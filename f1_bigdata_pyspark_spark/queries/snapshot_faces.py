"""The snapshot-table query family: each face builds a ``SnapshotTable``
(sources/snapshots.py), drives one lakehouse operation through it —
skipping, OPTIMIZE, MERGE, deletion vectors, schema and partition
evolution, clones, constraints, the change feeds, the DataSource reader
and writer — and returns the answer together with the operation's own
accounting (files scanned, rewritten, carried), so the oracle's value
hash pins both.

Each face states only what it proves. The steps the faces share are the
builders below; where a step has a SQL side (the key cuts, the cents
rows, the exact-cents rollup, the merge-on-read history) its twin is the
constant the oracles compose.

Scratch faces build their tables under ``utils.scratch_dir`` and
``materialize`` the result inside it, because the directory is gone when
the face returns. The two bench faces build theirs once per process
(``_cached_table``), so a timed run measures serving, not the build.
"""

from __future__ import annotations

import atexit
import datetime
import json
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.operators.ivm import (
    apply_cdc_to_join_rollup,
    apply_row_feed_to_rollup,
    join_rollup_of,
    rollup_of,
    signed_delta,
)
from f1_bigdata_pyspark_spark.queries.extended import (
    _TPCH_Q3_FROM_SQL,
    _TPCH_Q3_SELECT_SQL,
    _tpch_q3,
)
from f1_bigdata_pyspark_spark.queries.registry import query
from f1_bigdata_pyspark_spark.sources.snapshot_source import (
    SnapshotReader,
    register,
    served_read_tables,
)
from f1_bigdata_pyspark_spark.sources.snapshots import (
    SnapshotTable,
    read_changes_since,
    read_row_changes_since,
    snapshot_diff,
)
from f1_bigdata_pyspark_spark.streaming.upsert_sink import (
    foreach_batch_snapshot_append,
)
from f1_bigdata_pyspark_spark.utils import (
    materialize,
    multisets_equal,
    scratch_dir,
)


# --------------------------------------------------------------------------
# Shared steps.
# --------------------------------------------------------------------------
def _cents(col: str) -> Column:
    """``col`` in integer cents, rounded half up: sums of it are exact."""
    return F.floor(F.col(col) * 100 + 0.5).cast("long")


def _cents_sum(col: str) -> Column:
    """The exact-cents sum of ``col``, back in currency units."""
    return F.sum(_cents(col)).cast("double") / 100.0


def _cents_rollup(df: DataFrame, keys: list) -> DataFrame:
    """Per ``keys``: ``n_orders`` and the exact-cents ``revenue`` of
    ``o_totalprice``. The SQL twin is ``_cents_rollup_sql``."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _cents_sum("o_totalprice").alias("revenue"),
    )


def _cents_rollup_sql(price: str = "o_totalprice") -> str:
    """The SQL twin of ``_cents_rollup``'s aggregates over ``price``."""
    return f"""CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor({price} * 100 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue"""


_CENTS_ROLLUP_SQL = _cents_rollup_sql()


def _with_counts(df: DataFrame, **counts) -> DataFrame:
    """``df`` plus one literal column per keyword, in one ``select``: an
    int becomes a long counter, a bool or a string stays as it is."""
    return df.select(
        "*",
        *(
            (F.lit(v).cast("long") if type(v) is int else F.lit(v)).alias(k)
            for k, v in counts.items()
        ),
    )


def _key_cuts(df: DataFrame, key: str, n: int) -> list[int]:
    """``[m·i // n for i in 0..n]`` with ``m`` the top of ``key``'s range:
    integer cuts the oracles derive the same way from ``_MAX_KEY_SQL``."""
    m = df.agg(F.max(key)).head()[0]
    return [m * i // n for i in range(n + 1)]


_MAX_KEY_SQL = "mk AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS m FROM orders)"


def _key_ranges(key: str, cuts: list[int]) -> list[Column]:
    """One filter per range between consecutive ``cuts``: ``(lo, hi]``,
    the first range open below and the last open above."""
    c = F.col(key)
    inner = cuts[1:-1]
    return (
        [c <= inner[0]]
        + [(c > lo) & (c <= hi) for lo, hi in zip(inner, inner[1:])]
        + [c > inner[-1]]
    )


def _dated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


def _order_year() -> Column:
    return F.year("o_orderdate").alias("order_year")


def _cents_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as (k, pr, cents). The SQL twin is ``_CENTS_ROWS_SQL``."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        _cents("o_totalprice").alias("cents"),
    )


_CENTS_ROWS_SQL = """base AS (
  SELECT o_orderkey AS k, o_orderpriority AS pr,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)"""


def _by_priority(rollup: DataFrame) -> dict:
    """A collected (pr, n, s) rollup as ``{pr: (n, s)}``."""
    return {r.pr: (r.n, r.s) for r in rollup.collect()}


def _head_manifest(table: SnapshotTable) -> dict:
    return table._read_manifest(table.latest_version())


def _append_each(
    table: SnapshotTable,
    df: DataFrame,
    conds: list[Column],
    shuffle: bool = False,
) -> None:
    """Append one file per filter of ``df``, in order. ``shuffle`` writes
    each file through an exchange, so its scan stays parallel; otherwise
    the filtered scan is coalesced into the one writing task."""
    for cond in conds:
        part = df.filter(cond)
        table.commit(
            part.repartition(1) if shuffle else part.coalesce(1),
            mode="append",
        )


def _append_per_year(
    table: SnapshotTable, df: DataFrame, date_col: str, shuffle: bool = False
) -> None:
    """Append ``df`` as one file per calendar year of ``date_col``, oldest
    first: the small-file layout a date-partitioned ingest produces."""
    year = F.year(date_col)
    years = sorted(r[0] for r in df.select(year).distinct().collect())
    _append_each(table, df, [year == y for y in years], shuffle)


def _by_group(df: DataFrame, *exprs: Column) -> DataFrame:
    """``df`` hash-repartitioned by ``exprs`` into the session's default
    parallelism: each group lands wholly in one task, so a partitioned
    write emits one file per directory. The count is explicit because AQE
    coalesces a count-less repartition of a few MB into ONE task, which
    then writes every directory's file serially (~17 ms each: 664 hidden
    partitions took 12.6 s, against 1.5 s pinned)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *exprs)


def _append_year_partitioned(table: SnapshotTable, orders: DataFrame) -> None:
    """Commit ``orders`` into a hidden ``year(o_orderdate)`` layout, one
    file per year."""
    table.commit(
        _by_group(orders, F.year("o_orderdate")),
        mode="append",
        partition_by=["year(o_orderdate)"],
    )


def _cents_lookup(hit: DataFrame, **counts) -> DataFrame:
    """The literal ``counts`` columns, then ``hit``'s row count and cents
    total, materialized."""
    agg = hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    return materialize(
        _with_counts(agg, **counts).select(*counts, "n_rows", "total_cents")
    )


# bench tables by (directory prefix, absolute sf_dir): built once per process
_BENCH_TABLES: dict = {}


def _cached_table(prefix: str, sf_dir: str, build) -> tuple[str, object]:
    """(root, what ``build`` returned) of a bench face's table.
    ``build(table)`` fills a fresh table on the first call per (prefix,
    sf_dir), or when the cached root lost its manifests; the directory is
    removed at interpreter exit, since the table outlives every call."""
    key = (prefix, os.path.abspath(sf_dir))
    hit = _BENCH_TABLES.get(key)
    if hit is not None and os.path.isdir(os.path.join(hit[0], "_manifests")):
        return hit
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    _BENCH_TABLES[key] = hit = (root, build(SnapshotTable(root)))
    return hit


def _appends_around(table: SnapshotTable, rows: DataFrame, dml) -> None:
    """Append ``_cents_rows`` in three key-range batches of two files
    each, with ``dml(table)`` run between the second and the third."""
    first, second, third = _key_ranges("k", _key_cuts(rows, "k", 3))
    table.commit(rows.filter(first).repartition(2), mode="append")
    table.commit(rows.filter(second).repartition(2), mode="append")
    dml(table)
    table.commit(rows.filter(third).repartition(2), mode="append")


def _mor_cdf_lifecycle(
    spark: SparkSession, table: SnapshotTable, rows: DataFrame
) -> None:
    """The merge-on-read history both change-feed faces consume: two
    appends, a positional-vector DELETE of every row under 50 000.00, a
    merge-on-read UPDATE adding 7 cents to every 1-URGENT row, a third
    append. ``_MOR_CDF_ORACLE`` replays it."""

    def dml(t: SnapshotTable) -> None:
        t.delete_where_mor(spark, [("cents", "<", 5_000_000)])
        t.update_where_mor(
            spark, {"cents": "cents + 7"}, [("pr", "=", "1-URGENT")]
        )

    _appends_around(table, rows, dml)


def _change_counts(feed: DataFrame) -> dict:
    """``{_change_type: rows}`` of a row change feed."""
    return {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _feed_readout(
    spark: SparkSession, table: SnapshotTable, maintained: DataFrame, counts
) -> DataFrame:
    """The rollup a change feed maintained, with the feed's per-type row
    counts and the proof that it equals a recompute of ``table``."""
    matches = _by_priority(maintained) == _by_priority(
        rollup_of(table.read(spark), ["pr"], "cents")
    )
    return _with_counts(
        maintained.select(
            F.col("pr").alias("o_orderpriority"),
            F.col("n").cast("long").alias("n_orders"),
            F.col("s").cast("long").alias("sum_cents"),
        ),
        n_insert_rows=counts.get("insert", 0),
        n_delete_rows=counts.get("delete", 0),
        n_update_pre_rows=counts.get("update_preimage", 0),
        n_update_post_rows=counts.get("update_postimage", 0),
        ivm_matches_recompute=matches,
    )


_MOR_CDF_ORACLE = f"""
WITH {_MAX_KEY_SQL}, {_CENTS_ROWS_SQL},
batch AS (
  SELECT *, CASE WHEN k <= (SELECT m * 1 // 3 FROM mk) THEN 0
                 WHEN k <= (SELECT m * 2 // 3 FROM mk) THEN 1
                 ELSE 2 END AS b
  FROM base
),
ctr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ins,
         CAST(sum(CASE WHEN b <= 1 AND cents < 5000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         CAST(sum(CASE WHEN b <= 1 AND cents >= 5000000
                            AND pr = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
  FROM batch
),
final AS (
  SELECT pr,
         CASE WHEN b <= 1 AND pr = '1-URGENT' THEN cents + 7
              ELSE cents END AS cents
  FROM batch
  WHERE NOT (b <= 1 AND cents < 5000000)
)
SELECT pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       (SELECT n_ins FROM ctr) AS n_insert_rows,
       (SELECT n_del FROM ctr) AS n_delete_rows,
       (SELECT n_upd FROM ctr) AS n_update_pre_rows,
       (SELECT n_upd FROM ctr) AS n_update_post_rows,
       true AS ivm_matches_recompute
FROM final
GROUP BY pr
ORDER BY pr
"""


# --------------------------------------------------------------------------
# Q: snapshot_skipping_scan — END-TO-END data skipping on the snapshot
# table: commit orders year-by-year (one immutable file per year, the
# layout a date-partitioned ingest produces), then read back with a date
# predicate through the manifest's file-level min/max stats. The returned
# row carries BOTH the query answer (per-year revenue over the scanned
# range) and the skipping proof (files total vs files scanned) — so the
# oracle check fails if the pruning ever reads the wrong file set OR the
# wrong rows. Revenue is cents-exact (integer sum) — no double-order
# sensitivity. Scale: this is the Delta/Iceberg read path — the manifest
# is metadata (file paths + stats), pruning is O(#files) on the planner,
# and the scan touches only surviving files; at 100 TB with daily commits
# the same predicate reads days, not the table.
# --------------------------------------------------------------------------
_YEAR_SKIP_ORACLE = f"""
WITH yr AS (
  SELECT year(o_orderdate) AS y, o_totalprice FROM orders
),
files AS (
  SELECT count(DISTINCT y) AS n_total,
         count(DISTINCT CASE WHEN y >= 1999 THEN y END) AS n_scanned
  FROM yr
)
SELECT y AS order_year,
       {_CENTS_ROLLUP_SQL},
       (SELECT CAST(n_total AS BIGINT) FROM files) AS n_files_total,
       (SELECT CAST(n_scanned AS BIGINT) FROM files) AS n_files_scanned
FROM yr
WHERE y >= 1999
GROUP BY y
ORDER BY y
"""


def _year_skip_report(
    spark: SparkSession, sf_dir: str, prefix: str, read
) -> DataFrame:
    """Orders committed one file per year; ``read(table, cut)`` scans the
    orders dated ``cut`` or later. Their per-year rollup next to the
    manifest's skipping arithmetic for the same predicate."""
    orders = _dated_orders(spark, sf_dir)
    cut = datetime.datetime(1999, 1, 1)
    with scratch_dir(prefix) as root:
        table = SnapshotTable(root)
        _append_per_year(table, orders, "o_orderdate")
        rep = table.scan_stats(where=[("o_orderdate", ">=", cut)])
        return materialize(
            _with_counts(
                _cents_rollup(read(table, cut), [_order_year()]), **rep
            ).orderBy("order_year")
        )


@query("snapshot_skipping_scan", oracle=_YEAR_SKIP_ORACLE)
def snapshot_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _year_skip_report(
        spark,
        sf_dir,
        "snap_skip_",
        lambda t, cut: t.read(spark, where=[("o_orderdate", ">=", cut)]),
    )


# --------------------------------------------------------------------------
# Q: snapshot_optimize_report — OPTIMIZE made driver-checkable: ingest
# orders as one file per year (the small-file layout a daily ingest
# accumulates), run the sorted compaction into 2 files clustered by
# o_orderkey, and return the layout report BOTH before and after — file
# counts, versions, and the skipping behavior of a key-range predicate on
# each layout — plus a row-conservation total. Every number is
# deterministic (year count, target_files, pruning against disjoint key
# ranges), so the whole OPTIMIZE lifecycle sits under the value hash.
# Scale: see SnapshotTable.optimize — one range exchange, local sorts.
# --------------------------------------------------------------------------
@query(
    "snapshot_optimize_report",
    oracle="""
WITH y AS (SELECT count(DISTINCT year(o_orderdate)) AS n_years FROM orders),
     n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(max(o_orderkey) AS BIGINT) AS max_key
           FROM orders)
SELECT 'before' AS phase,
       (SELECT CAST(n_years AS BIGINT) FROM y) AS n_files,
       (SELECT CAST(n_years AS BIGINT) FROM y) AS files_scanned_top_quarter,
       (SELECT n_rows FROM n) AS n_rows
UNION ALL
SELECT 'after', 2, 1, (SELECT n_rows FROM n)
ORDER BY phase
""",
)
def snapshot_optimize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    # top QUARTER of the key range: repartitionByRange picks its boundary
    # by sampling (≈ the median, with jitter), so a median cut could land
    # on either side of the file split — the 3/4 cut is deterministic
    where = [("o_orderkey", ">=", _key_cuts(orders, "o_orderkey", 4)[3])]
    with scratch_dir("snap_opt_") as root:
        table = SnapshotTable(root)
        # year files each span the FULL key range -> no key pruning
        _append_per_year(table, orders, "o_orderdate")
        before = table.scan_stats(where=where)
        n_before = table.read(spark).count()
        v_opt = table.optimize(spark, ["o_orderkey"], target_files=2)
        after = table.scan_stats(version=v_opt, where=where)
        n_after = table.read(spark, version=v_opt).count()
        rows = [
            ("before", before["n_files_total"], before["n_files_scanned"], n_before),
            ("after", after["n_files_total"], after["n_files_scanned"], n_after),
        ]
        return materialize(
            spark.createDataFrame(
                rows,
                "phase string, n_files long, "
                "files_scanned_top_quarter long, n_rows long",
            ).orderBy("phase")
        )


# --------------------------------------------------------------------------
# Q: snapshot_merge_rollup — copy-on-write MERGE made driver-checkable:
# orders land in 4 disjoint key-range files; a derived changeset (price
# bumps in the first quartile, deletes in the second, 3 appended keys) is
# MERGEd through SnapshotTable.merge, which rewrites ONLY the quartile
# files the changeset touches. The returned rollup is computed from the
# POST-MERGE snapshot, and the carried/rewritten file counts sit inside
# the hashed row — if CoW ever rewrites an untouched file (or misses a
# touched one) the hash breaks, not just a pytest. The oracle replays the
# merge relationally (update CASE + delete anti-filter + insert UNION)
# and derives the same file arithmetic from the quartile cuts. Scale:
# this is the Delta MERGE path — find-touched is a stats-pruned semi-join,
# rewrite is O(touched files), the rest of the 100 TB table is metadata.
# --------------------------------------------------------------------------
@query(
    "snapshot_merge_rollup",
    oracle=f"""
WITH {_MAX_KEY_SQL},
cuts AS (
  SELECT m, m * 1 // 4 AS c1, m * 2 // 4 AS c2, m * 3 // 4 AS c3 FROM mk
),
t AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
upd AS (
  SELECT o_orderkey FROM t, cuts
  WHERE o_orderkey % 97 = 0 AND o_orderkey <= c1
),
del AS (
  SELECT o_orderkey FROM t, cuts
  WHERE o_orderkey % 101 = 0 AND o_orderkey > c1 AND o_orderkey <= c2
),
merged AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey IN (SELECT o_orderkey FROM upd)
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS p
  FROM t
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
  UNION ALL
  SELECT m + i, '1-URGENT', 1000.5 FROM cuts CROSS JOIN range(1, 4) r(i)
),
touched AS (
  SELECT DISTINCT CASE WHEN o_orderkey <= c1 THEN 0
                       WHEN o_orderkey <= c2 THEN 1
                       WHEN o_orderkey <= c3 THEN 2 ELSE 3 END AS q
  FROM (SELECT o_orderkey FROM upd
        UNION ALL SELECT o_orderkey FROM del) u, cuts
)
SELECT o_orderpriority,
       {_cents_rollup_sql("p")},
       (SELECT CAST(count(*) AS BIGINT) FROM touched) AS n_files_rewritten,
       (SELECT CAST(4 - count(*) AS BIGINT) FROM touched) AS n_files_carried
FROM merged
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snapshot_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    cuts = _key_cuts(orders, "o_orderkey", 4)
    ranges = _key_ranges("o_orderkey", cuts)
    # the changeset: updates live in quartile 1, deletes in quartile 2,
    # inserts past the key range -> files 3 and 4 must carry by identity
    upd = orders.filter((F.col("o_orderkey") % 97 == 0) & ranges[0]).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(None).cast("string").alias("new_priority"),
        (F.col("o_totalprice") + 10.0).alias("new_price"),
    )
    dele = orders.filter((F.col("o_orderkey") % 101 == 0) & ranges[1]).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_priority"),
        F.lit(None).cast("double").alias("new_price"),
    )
    ins = spark.createDataFrame(
        [(cuts[-1] + i, "I", "1-URGENT", 1000.5) for i in (1, 2, 3)],
        "o_orderkey long, op string, new_priority string, new_price double",
    )
    with scratch_dir("snap_merge_") as root:
        table = SnapshotTable(root)
        _append_each(table, orders, ranges)  # 4 disjoint key-range files
        rep = table.merge(
            spark,
            upd.unionByName(dele).unionByName(ins),
            ["o_orderkey"],
            matched_delete=F.col("op") == "D",
            matched_update={"o_totalprice": F.col("new_price")},
            update_condition=F.col("op") == "U",
            not_matched_insert={
                "o_orderpriority": F.col("new_priority"),
                "o_totalprice": F.col("new_price"),
            },
        )
        return materialize(
            _with_counts(
                _cents_rollup(table.read(spark), ["o_orderpriority"]),
                n_files_rewritten=rep["files_rewritten"],
                n_files_carried=rep["files_carried"],
            ).orderBy("o_orderpriority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_incremental_optimize_report — incremental OPTIMIZE made
# driver-checkable (the companion of snapshot_optimize_report, which
# rewrites the WHOLE live set and so is not runnable at 100 TB): one
# adequately-sized base file (first key half) plus one small ingest file
# per year of the second half; optimize_incremental compacts ONLY the
# small files into one, and the base file must survive BY IDENTITY. The
# hashed row pins the file arithmetic before/after, the identity boolean
# (same path in both manifests), and row conservation. The oracle derives
# the same counts from the year/key arithmetic. Scale: compaction I/O is
# O(small files) — the steady-state daily tail — never O(table).
# --------------------------------------------------------------------------
@query(
    "snapshot_incremental_optimize_report",
    oracle=f"""
WITH {_MAX_KEY_SQL},
half AS (SELECT m // 2 AS cut FROM mk),
yrs AS (
  SELECT count(DISTINCT year(o_orderdate)) AS n_years
  FROM orders, half WHERE o_orderkey > cut
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
SELECT CAST(1 + (SELECT n_years FROM yrs) AS BIGINT) AS n_files_before,
       CAST(2 AS BIGINT) AS n_files_after,
       CAST((SELECT n_years FROM yrs) AS BIGINT) AS n_files_compacted,
       CAST(1 AS BIGINT) AS n_files_carried,
       true AS base_file_carried_by_identity,
       (SELECT n_rows FROM n) AS n_rows_after
""",
)
def snapshot_incremental_optimize_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    cut = _key_cuts(orders, "o_orderkey", 2)[1]
    with scratch_dir("snap_incr_opt_") as root:
        table = SnapshotTable(root)
        # the adequately-sized base file, then the small-file ingest tail
        _append_each(table, orders, [F.col("o_orderkey") <= cut])
        m0 = table._read_manifest(0)
        base_file = m0["files"][0]
        _append_per_year(
            table, orders.filter(F.col("o_orderkey") > cut), "o_orderdate"
        )
        before = len(_head_manifest(table)["files"])
        # threshold sits between the year-slice and half-table file sizes
        # at any correctness SF; huge target -> exactly one compacted file
        rep = table.optimize_incremental(
            spark,
            small_file_max_bytes=100_000,
            target_file_bytes=1 << 30,
            sort_cols=["o_orderkey"],
        )
        m1 = table._read_manifest(rep["version"])
        identity = (
            base_file in m1["files"]
            and m1["stats"][base_file] == m0["stats"][base_file]
        )
        row = (
            before,
            len(m1["files"]),
            rep["files_compacted"],
            rep["files_carried"],
            identity,
            table.read(spark).count(),
        )
        return materialize(
            spark.createDataFrame(
                [row],
                "n_files_before long, n_files_after long, "
                "n_files_compacted long, n_files_carried long, "
                "base_file_carried_by_identity boolean, n_rows_after long",
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_changefeed_consistency — exactly-once incremental
# consumption pinned under the value hash: orders commit in three
# key-range batches; a consumer tails the table with read_changes_since,
# persisting its cursor between polls (plus one redundant poll that must
# deliver NOTHING). The hashed rows carry each delivery's row count and
# running total, and the final total must equal the direct snapshot read
# — no loss, no re-delivery. Oracle = the same key-range arithmetic. At
# 100 TB this is the Delta streaming-source contract: each poll plans a
# scan of exactly the NEW files (manifest set difference), never history.
# --------------------------------------------------------------------------
@query(
    "snapshot_changefeed_consistency",
    oracle=f"""
WITH {_MAX_KEY_SQL},
cuts AS (SELECT m, m * 1 // 3 AS c1, m * 2 // 3 AS c2 FROM mk),
b AS (
  SELECT CASE WHEN o_orderkey <= c1 THEN 0
              WHEN o_orderkey <= c2 THEN 1 ELSE 2 END AS batch_idx,
         o_orderkey
  FROM orders, cuts
),
per AS (
  SELECT batch_idx, CAST(count(*) AS BIGINT) AS n_delivered
  FROM b GROUP BY batch_idx
)
SELECT batch_idx,
       n_delivered,
       CAST(sum(n_delivered) OVER (ORDER BY batch_idx
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cumulative,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_table_rows,
       true AS redelivery_free
FROM per
ORDER BY batch_idx
""",
)
def snapshot_changefeed_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    batches = _key_ranges("o_orderkey", _key_cuts(orders, "o_orderkey", 3))
    with scratch_dir("snap_feed_") as root:
        table = SnapshotTable(root)
        cursor = None
        rows = []
        total = 0
        for i, cond in enumerate(batches):
            _append_each(table, orders, [cond])
            delta, cursor = read_changes_since(spark, table, cursor)
            n = delta.count() if delta is not None else 0
            total += n
            rows.append((i, n, total))
        # a poll with nothing new must deliver nothing (no re-delivery)
        again, cursor = read_changes_since(spark, table, cursor)
        clean = again is None
        n_table = table.read(spark).count()
        return materialize(
            spark.createDataFrame(
                [
                    (i, n, cum, n_table, clean and cum <= n_table)
                    for i, n, cum in rows
                ],
                "batch_idx long, n_delivered long, n_cumulative long, "
                "n_table_rows long, redelivery_free boolean",
            ).orderBy("batch_idx")
        )


# --------------------------------------------------------------------------
# Q: snapshot_deletion_vector_report — merge-on-read DELETE made
# driver-checkable: orders land in 4 key-range files, then every key
# divisible by 89 is deleted VIA TOMBSTONE (sources/snapshots.delete_keys
# — zero data files rewritten, the Iceberg-v2 equality-delete shape);
# the hashed row carries the post-delete rollup, the tombstone count,
# and the proof that NO file was rewritten (file count unchanged across
# the delete). A final OPTIMIZE materializes the tombstones and the
# row count must hold. At 100 TB this is the O(changeset) DELETE — the
# copy-on-write twin (snapshot_merge_rollup) pays O(touched files);
# together they are the lakehouse's write-amplification trade, both
# under value hashes.
# --------------------------------------------------------------------------
@query(
    "snapshot_deletion_vector_report",
    oracle=f"""
WITH dead AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 89 = 0),
alive AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % 89 <> 0
)
SELECT o_orderpriority,
       {_CENTS_ROLLUP_SQL},
       (SELECT CAST(count(*) AS BIGINT) FROM dead) AS n_tombstoned,
       CAST(4 AS BIGINT) AS n_files_before_delete,
       CAST(4 AS BIGINT) AS n_files_after_delete,
       true AS optimize_preserves_rows
FROM alive
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snapshot_deletion_vector_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    ranges = _key_ranges("o_orderkey", _key_cuts(orders, "o_orderkey", 4))
    with scratch_dir("snap_dv_") as root:
        table = SnapshotTable(root)
        _append_each(table, orders, ranges)
        n_before = len(_head_manifest(table)["files"])
        rep = table.delete_keys(
            spark,
            orders.filter(F.col("o_orderkey") % 89 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        n_after = len(table._read_manifest(rep["version"])["files"])
        live = table.read(spark)
        n_live = live.count()
        v_opt = table.optimize(spark, ["o_orderkey"], target_files=2)
        return materialize(
            _with_counts(
                _cents_rollup(live, ["o_orderpriority"]),
                n_tombstoned=rep["n_tombstoned"],
                n_files_before_delete=n_before,
                n_files_after_delete=n_after,
                optimize_preserves_rows=(
                    table.read(spark, version=v_opt).count() == n_live
                ),
            ).orderBy("o_orderpriority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_schema_evolution_report — additive schema evolution under
# the value hash: orders commit with (key, price), then a second commit
# ADDS a priority column via merge_schema=True, then an old-schema writer
# appends again. The read must present ONE widened schema where rows from
# pre-evolution files carry NULL priority — the per-source NULL
# accounting and the grouped rollup over the mixed-schema table are
# exactly predictable, so the whole evolution contract (prefix match,
# NULL-fill, old-writer tolerance) sits in the hash. Scale: evolution is
# a manifest-only operation — no backfill rewrite of the 100 TB of
# already-written files, which is the entire point.
# --------------------------------------------------------------------------
@query(
    "snapshot_schema_evolution_report",
    oracle=f"""
WITH {_MAX_KEY_SQL},
cuts AS (SELECT m, m * 1 // 3 AS c1, m * 2 // 3 AS c2 FROM mk),
t AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey > c1 AND o_orderkey <= c2
              THEN o_orderpriority END AS pr
  FROM orders, cuts
)
SELECT coalesce(pr, '__null__') AS priority,
       {_CENTS_ROLLUP_SQL}
FROM t
GROUP BY coalesce(pr, '__null__')
ORDER BY priority
""",
)
def snapshot_schema_evolution_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first, second, third = _key_ranges(
        "o_orderkey", _key_cuts(orders, "o_orderkey", 3)
    )
    narrow = orders.select("o_orderkey", "o_totalprice")
    wide = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    with scratch_dir("snap_evo_") as root:
        table = SnapshotTable(root)
        # v0: pre-evolution writer (no priority column)
        table.commit(narrow.filter(first).coalesce(1), mode="append")
        # v1: the schema ADDS a column — manifest-only, no backfill
        table.commit(
            wide.filter(second).coalesce(1), mode="append", merge_schema=True
        )
        # v2: an old-schema writer keeps appending after the evolution
        table.commit(
            narrow.filter(third).coalesce(1), mode="append", merge_schema=True
        )
        priority = F.coalesce(F.col("o_orderpriority"), F.lit("__null__"))
        return materialize(
            _cents_rollup(table.read(spark), [priority.alias("priority")])
            .orderBy("priority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_datasource_scan — the snapshot table served through the
# Spark Python DataSource (sources/snapshot_source.py): a PLAIN
# ``spark.read.format("snapshot")... .filter(...)`` where Catalyst hands
# the predicate to pushFilters and the manifest prunes the file list
# before any file opens — the engine-integrated twin of
# snapshot_skipping_scan (which proves the same planner through the
# read(where=) side channel), with the same oracle. Orders commit
# year-per-file; the 1999+ filter plans 3 of 7 files (the pruning
# arithmetic from scan_stats — the SAME prune_files call the source makes
# — rides the hash next to the query answer computed entirely through
# the DataSource path).
# --------------------------------------------------------------------------
@query("snapshot_datasource_scan", oracle=_YEAR_SKIP_ORACLE)
def snapshot_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register(spark)
    return _year_skip_report(
        spark,
        sf_dir,
        "snap_ds_",
        lambda t, cut: spark.read.format("snapshot")
        .option("root", t.root)
        .load()
        .filter(F.col("o_orderdate") >= F.lit(cut)),
    )


# --------------------------------------------------------------------------
# Q: snapshot_clone_divergence — shallow clone under the value hash: the
# orders table commits year-per-file, a clone is taken (metadata-only —
# the manifest references the SOURCE's files, nothing copied), then the
# clone alone appends a derived changeset. The hashed row pins the
# zero-copy arithmetic (shared file count == the source's whole file
# set), the divergence (clone rows = source rows + changeset; source
# unchanged), and both rollups. At 100 TB a shallow clone is how a team
# forks a table for an experiment in O(manifest) instead of O(data) —
# this face is that contract, checked.
# --------------------------------------------------------------------------
@query(
    "snapshot_clone_divergence",
    oracle="""
WITH yrs AS (
  SELECT count(DISTINCT year(o_orderdate)) AS n_years FROM orders
),
chg AS (
  SELECT count(*) AS n_chg FROM orders WHERE o_orderkey % 97 = 0
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
SELECT (SELECT CAST(n_years AS BIGINT) FROM yrs) AS n_files_shared,
       (SELECT n_rows FROM n) AS n_source_rows,
       (SELECT n_rows FROM n) + (SELECT CAST(n_chg AS BIGINT) FROM chg)
         AS n_clone_rows,
       (SELECT CAST(n_chg AS BIGINT) FROM chg) AS n_changeset_rows,
       true AS source_unchanged
""",
)
def snapshot_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    changeset = orders.filter(F.col("o_orderkey") % 97 == 0)
    with scratch_dir("snap_clone_") as root:
        src = SnapshotTable(os.path.join(root, "src"))
        _append_per_year(src, orders, "o_orderdate")
        clone = SnapshotTable(os.path.join(root, "clone"))
        clone.clone_from(src)
        shared = len(
            set(_head_manifest(src)["files"])
            & set(clone._read_manifest(0)["files"])
        )
        n_src_before = src.read(spark).count()
        clone.commit(changeset.coalesce(1), mode="append")
        n_clone = clone.read(spark).count()
        n_src_after = src.read(spark).count()
        row = (
            shared,
            n_src_after,
            n_clone,
            changeset.count(),
            n_src_before == n_src_after,
        )
        return materialize(
            spark.createDataFrame(
                [row],
                "n_files_shared long, n_source_rows long, n_clone_rows long, "
                "n_changeset_rows long, source_unchanged boolean",
            )
        )


# --------------------------------------------------------------------------
# Q: ivm_join_rollup_maintenance — incremental view maintenance for a
# two-table JOIN view (the 100 TB alternative to nightly recompute): an
# orders⋈per-order-items rollup is maintained from the snapshot CDC feeds
# of BOTH tables via the delta-join identity on signed multisets,
# Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
# (operators/ivm.apply_cdc_to_join_rollup). Both tables mutate between
# versions with inserts, deletes AND updates (orders %5→%7 key churn +
# priority rewrites; items %3→%4 churn + count bumps), the view is
# folded forward from the two snapshot_diff feeds, and the HASHED result
# is the MAINTAINED view itself — the oracle recomputes the final state
# directly, so any drift in the identity breaks the hash. The
# maintained-equals-recomputed boolean is additionally computed
# relationally (null-safe full-outer compare), not assumed. Work ∝
# changes: the two old-snapshot terms broadcast the signed changesets
# (map-only over A₀/B₀), never re-aggregate A⋈B.
# --------------------------------------------------------------------------
@query(
    "ivm_join_rollup_maintenance",
    oracle="""
WITH a1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN 'HOT'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 <> 0
),
b1 AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(count(*) + CASE WHEN l_orderkey % 9 = 0 THEN 5 ELSE 0 END
              AS BIGINT) AS items
  FROM lineitem WHERE l_orderkey % 4 <> 0 GROUP BY l_orderkey
)
SELECT a1.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(items) AS BIGINT) AS s,
       TRUE AS maintained_equals_recomputed
FROM a1 JOIN b1 USING (o_orderkey)
GROUP BY a1.o_orderpriority
ORDER BY o_orderpriority
""",
)
def ivm_join_rollup_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a0 = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_orderpriority"
    )
    a1 = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("HOT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    items = lineitem.select(F.col("l_orderkey").alias("o_orderkey"))
    b0 = (
        items.filter(F.col("o_orderkey") % 3 != 0)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("items"))
    )
    b1 = (
        items.filter(F.col("o_orderkey") % 4 != 0)
        .groupBy("o_orderkey")
        .agg(
            (
                F.count(F.lit(1))
                + F.when(F.col("o_orderkey") % 9 == 0, F.lit(5)).otherwise(
                    F.lit(0)
                )
            ).alias("items")
        )
    )
    key, group = ["o_orderkey"], ["o_orderpriority"]
    with scratch_dir("ivm_") as root:
        ta = SnapshotTable(os.path.join(root, "a"))
        tb = SnapshotTable(os.path.join(root, "b"))
        ta.commit(a0.repartition(2), mode="append")
        tb.commit(b0.repartition(2), mode="append")
        ta.commit(a1.repartition(2), mode="overwrite")
        tb.commit(b1.repartition(2), mode="overwrite")
        a_old, b_old = ta.read(spark, version=0), tb.read(spark, version=0)
        view0 = materialize(join_rollup_of(a_old, b_old, key, group, "items"))
        da = signed_delta(snapshot_diff(spark, ta, 0, 1, key), key)
        db = signed_delta(snapshot_diff(spark, tb, 0, 1, key), key)
        maintained = materialize(
            apply_cdc_to_join_rollup(
                view0, a_old, b_old, da, db, key, group, "items"
            )
        )
        recomputed = join_rollup_of(
            ta.read(spark, version=1),
            tb.read(spark, version=1),
            key,
            group,
            "items",
        )
        mism = (
            maintained.withColumnRenamed("n", "mn").withColumnRenamed("s", "ms")
            .join(recomputed, group, "full_outer")
            .filter(
                ~(
                    F.col("mn").eqNullSafe(F.col("n"))
                    & F.col("ms").eqNullSafe(F.col("s"))
                )
            )
            .count()
        )
        return materialize(
            maintained.select(
                "o_orderpriority",
                F.col("n").cast("long").alias("n"),
                F.col("s").cast("long").alias("s"),
                F.lit(mism == 0).alias("maintained_equals_recomputed"),
            ).orderBy("o_orderpriority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_null_skipping_scan — null-count data skipping made
# driver-checkable: orders land in three files with a KNOWN null layout
# on a derived value column (keys %4==0 -> an ALL-NULL file, %4==1 -> a
# NO-NULL file, %4 in (2,3) -> a mixed file with nulls at %4==2), then
# three reads run through the manifest's nc/nr stats: IS NOT NULL skips
# the all-null file, IS NULL skips the no-null file, and a comparison
# ALSO skips the all-null file (NULL satisfies no comparison — the
# three-valued-logic proof). Scanned/total file counts AND the row
# counts ride the hashed result, so an unsound skip (or a lost prune)
# breaks the hash. This is the IS NOT NULL fast path every warehouse
# query planner leans on, here enforced by the manifest instead of a
# runtime filter.
# --------------------------------------------------------------------------
@query(
    "snapshot_null_skipping_scan",
    oracle="""
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 IN (0, 2) THEN NULL
              ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
         END AS val
  FROM orders
)
SELECT * FROM (
  SELECT 'comparison_gt' AS predicate,
         CAST(3 AS BIGINT) AS n_files_total,
         CAST(2 AS BIGINT) AS n_files_scanned,
         (SELECT CAST(count(*) AS BIGINT) FROM v WHERE val > 0) AS n_rows
  UNION ALL
  SELECT 'is_not_null',
         CAST(3 AS BIGINT), CAST(2 AS BIGINT),
         (SELECT CAST(count(*) AS BIGINT) FROM v WHERE val IS NOT NULL)
  UNION ALL
  SELECT 'is_null',
         CAST(3 AS BIGINT), CAST(2 AS BIGINT),
         (SELECT CAST(count(*) AS BIGINT) FROM v WHERE val IS NULL)
) ORDER BY predicate
""",
)
def snapshot_null_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(k % 4 == 1, _cents("o_totalprice"))
        .when(k % 4 == 3, _cents("o_totalprice"))
        .alias("val"),  # %4 in (0, 2): NULL (when/when without otherwise)
    )
    with scratch_dir("snap_null_") as root:
        table = SnapshotTable(root)
        # an all-null file, a no-null file, a mixed file (%4 in 2,3)
        _append_each(table, orders, [k % 4 == 0, k % 4 == 1, k % 4 >= 2])
        rows = []
        for name, where in (
            ("comparison_gt", [("val", ">", 0)]),
            ("is_not_null", [("val", "is_not_null", None)]),
            ("is_null", [("val", "is_null", None)]),
        ):
            st = table.scan_stats(where=where)
            n = table.read(spark, where=where).count()
            rows.append((name, st["n_files_total"], st["n_files_scanned"], n))
        return materialize(
            spark.createDataFrame(
                rows,
                "predicate string, n_files_total long, "
                "n_files_scanned long, n_rows long",
            ).orderBy("predicate")
        )


# --------------------------------------------------------------------------
# Q: snapshot_partition_evolution_report — Iceberg-style partition
# evolution made driver-checkable: generation 1 commits the lower half of
# orders FLAT (one file, no layout); generation 2 evolves the table to
# partition_by=[o_orderpriority] and appends the upper half (one file per
# priority). A priority-equality read then prunes ACROSS generations in
# one prune_files pass: the flat gen-1 file survives only because its
# footer min/max on the string column brackets the probe value, the
# gen-2 files through their directory point stats — 2 files scanned out
# of 1 + n_priorities. OPTIMIZE then migrates everything to the current
# layout (all files laid out, 1 file scanned for the same predicate) and
# the matching row count is pinned unchanged across the migration. The
# file arithmetic is data-derived (n_priorities from the data), not
# hard-coded.
# --------------------------------------------------------------------------
@query(
    "snapshot_partition_evolution_report",
    oracle=f"""
WITH {_MAX_KEY_SQL},
np AS (SELECT count(DISTINCT o_orderpriority) AS n FROM orders
       WHERE o_orderkey > (SELECT m FROM mk) // 2),
minp AS (SELECT min(o_orderpriority) AS p FROM orders),
pred AS (
  SELECT count(*) AS nr FROM orders
  WHERE o_orderpriority = (SELECT p FROM minp)
)
SELECT (SELECT CAST(n AS BIGINT) FROM np) AS n_new_partitions,
       (SELECT CAST(1 + n AS BIGINT) FROM np) AS n_files_mixed,
       CAST(2 AS BIGINT) AS n_files_scanned_mixed,
       (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT)
        FROM orders) AS n_files_optimized,
       CAST(1 AS BIGINT) AS n_files_scanned_optimized,
       (SELECT CAST(nr AS BIGINT) FROM pred) AS n_rows_predicate,
       TRUE AS rows_stable_across_migration
""",
)
def snapshot_partition_evolution_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    lower, higher = _key_ranges("o_orderkey", _key_cuts(orders, "o_orderkey", 2))
    upper = orders.filter(higher)
    minp = orders.agg(F.min("o_orderpriority")).head()[0]
    n_new = upper.select("o_orderpriority").distinct().count()
    where = [("o_orderpriority", "=", minp)]
    with scratch_dir("snap_pevo_") as root:
        table = SnapshotTable(root)
        _append_each(table, orders, [lower])  # gen 1: flat
        table.commit(  # gen 2: evolved layout, one file per priority
            upper.repartition(8, "o_orderpriority"),
            mode="append",
            partition_by=["o_orderpriority"],
            evolve_partitioning=True,
        )
        st_mixed = table.scan_stats(where=where)
        n_pred = table.read(spark, where=where).count()
        table.optimize(spark, sort_cols=["o_orderkey"], target_files=1)
        st_opt = table.scan_stats(where=where)
        row = (
            n_new,
            st_mixed["n_files_total"],
            st_mixed["n_files_scanned"],
            st_opt["n_files_total"],
            st_opt["n_files_scanned"],
            n_pred,
            n_pred == table.read(spark, where=where).count(),
        )
        return materialize(
            spark.createDataFrame(
                [row],
                "n_new_partitions long, n_files_mixed long, "
                "n_files_scanned_mixed long, n_files_optimized long, "
                "n_files_scanned_optimized long, n_rows_predicate long, "
                "rows_stable_across_migration boolean",
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_concurrent_writers_protocol — optimistic-concurrency
# protocol made driver-checkable, both paths exercised through injected
# version races: (1) an APPEND loses its race to another append and
# auto-REBASES (republishes its already-written file set on the new
# head — appends never conflict logically); (2) a MERGE (doubling the
# integer-cents value of every %7==0 key) loses its race to an append of
# brand-new synthetic keys ABOVE the table's key range and RETRIES —
# the winner's added file is provably disjoint from the merge source
# (stats pre-prune: the added file's key range misses the source range
# entirely, zero probe I/O), so the same rewrite lands on the new head
# with the winner's file carried by identity. Serializable by
# construction: the winner's keys are outside the source, so
# merge-after-winner equals merge-before-winner. The hashed result is
# the final per-priority rollup + the commit-mode history + row
# conservation — any protocol drift (lost rows, double-applied merge,
# forked history) breaks the hash.
# --------------------------------------------------------------------------
@query(
    "snapshot_concurrent_writers_protocol",
    oracle=f"""
WITH {_MAX_KEY_SQL},
base AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           * (CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END) AS val
  FROM orders
),
winner AS (
  SELECT (SELECT m FROM mk) + i AS o_orderkey,
         'RACE' AS o_orderpriority,
         CAST((i * 37) % 1000 AS BIGINT) AS val
  FROM (SELECT unnest(range(1, 51)) AS i)
),
final AS (
  SELECT * FROM base UNION ALL SELECT * FROM winner
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(val) AS BIGINT) AS total_cents,
       'append,append,append,append,merge' AS history_modes,
       (SELECT CAST(count(*) + 50 AS BIGINT) FROM orders) = (
         SELECT count(*) FROM final) AS conservation_ok
FROM final
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snapshot_concurrent_writers_protocol(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("val")
    )
    top = _key_cuts(orders, "o_orderkey", 1)[-1]
    thirds = [F.col("o_orderkey") % 3 == i for i in range(3)]
    winner_rows = spark.range(1, 51).select(
        (F.col("id") + top).alias("o_orderkey"),
        F.lit("RACE").alias("o_orderpriority"),
        ((F.col("id") * 37) % 1000).cast("long").alias("val"),
    )
    with scratch_dir("snap_ccw_") as root:
        table = SnapshotTable(root)
        _append_each(table, orders, thirds[:1])
        # race 1: this append loses to the %3==1 batch and REBASES
        table.commit(
            orders.filter(thirds[2]).coalesce(1),
            mode="append",
            on_conflict="rebase",
            _before_publish=lambda: _append_each(table, orders, thirds[1:2]),
        )
        # race 2: the merge loses to a disjoint-key append and RETRIES
        table.merge(
            spark,
            orders.filter(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey", (F.col("val") * 2).alias("new_val")
            ),
            ["o_orderkey"],
            matched_update={"val": F.col("new_val")},
            on_conflict="retry",
            _before_publish=lambda: table.commit(
                winner_rows.coalesce(1), mode="append"
            ),
        )
        final = table.read(spark)
        return materialize(
            _with_counts(
                final.groupBy("o_orderpriority").agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    F.sum("val").cast("long").alias("total_cents"),
                ),
                history_modes=",".join(h["mode"] for h in table.history()),
                conservation_ok=final.count() == orders.count() + 50,
            ).orderBy("o_orderpriority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_bloom_point_lookup — bloom-filter data skipping made
# driver-checkable, INCLUDING its false-positive behavior: orders land in
# 8 files keyed by o_orderkey % 8 (hash-interleaved, so every file's
# [min, max] spans the whole key domain and RANGE pruning keeps all 8),
# each committed with a 65536-bit / 4-hash bloom over the key. A point
# lookup of a mid-domain key then scans only the files whose bloom
# cannot disprove membership — and because the bit positions are the
# portable md5 form, the ORACLE REPLAYS THE EXACT BLOOM (every member's
# bit set, the probe's bits, the per-file survive test), so the scanned
# file count in the hash is the true bloom decision, false positives and
# all — not an assumed ideal. This is the point-lookup complement to
# min/max skipping: the serving-path prune for "fetch row by key" on a
# table laid out for something else.
# --------------------------------------------------------------------------
@query(
    "snapshot_bloom_point_lookup",
    oracle=f"""
WITH {_MAX_KEY_SQL},
probe AS (SELECT max(o_orderkey) AS pk FROM orders
          WHERE o_orderkey <= (SELECT m FROM mk) // 2),
ks AS (SELECT o_orderkey AS key, o_orderkey % 8 AS fid FROM orders),
member_bits AS MATERIALIZED (
  SELECT DISTINCT fid,
         CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || '#' ||
              CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS p
  FROM ks, (SELECT unnest(range(4)) AS j)
),
probe_bits AS (
  SELECT CAST(('0x' || substr(md5(CAST((SELECT pk FROM probe) AS VARCHAR)
              || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS p
  FROM (SELECT unnest(range(4)) AS j)
),
surv AS (
  SELECT fid FROM (SELECT DISTINCT fid FROM ks) f
  WHERE NOT EXISTS (
    SELECT 1 FROM probe_bits pb
    WHERE NOT EXISTS (
      SELECT 1 FROM member_bits mb WHERE mb.fid = f.fid AND mb.p = pb.p))
)
SELECT (SELECT CAST(pk AS BIGINT) FROM probe) AS probe_key,
       CAST(8 AS BIGINT) AS n_files_total,
       (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_files_scanned,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey = (SELECT pk FROM probe)) AS n_rows,
       (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) FROM orders
        WHERE o_orderkey = (SELECT pk FROM probe)) AS total_cents
""",
)
def snapshot_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    half = _key_cuts(orders, "o_orderkey", 2)[1]
    pk = (
        orders.filter(F.col("o_orderkey") <= half)
        .agg(F.max("o_orderkey"))
        .head()[0]
    )
    where = [("o_orderkey", "=", pk)]
    with scratch_dir("snap_bloom_") as root:
        table = SnapshotTable(root)
        for fid in range(8):  # hash-interleaved files: range pruning dead
            table.commit(
                orders.filter(F.col("o_orderkey") % 8 == fid).coalesce(1),
                mode="append",
                bloom_cols=["o_orderkey"],
                bloom_bits=65536,
            )
        return _cents_lookup(
            table.read(spark, where=where),
            probe_key=pk,
            **table.scan_stats(where=where),
        )


# --------------------------------------------------------------------------
# Q: snapshot_datasource_write_roundtrip — the DataSource WRITER
# (sources/snapshot_source.SnapshotWriter) driven end to end through
# Spark's own write lifecycle: four `df.write.format("snapshot")` jobs
# append disjoint o_orderkey quartiles (each job = executors write the
# files AND collect footer stats locally, the driver publishes one
# atomic manifest via publish_files — the real two-phase commit split),
# then a predicate read proves the EXECUTOR-collected stats prune: a
# `> 3·max/4` probe plans exactly one of the four files. Version count,
# file counts, and the rollup of the surviving quartile all ride the
# hash. This closes the loop on the DataSource story: the same format
# string now reads (pushFilters → manifest pruning) and writes
# (two-phase commit) the snapshot table.
# --------------------------------------------------------------------------
@query(
    "snapshot_datasource_write_roundtrip",
    oracle=f"""
WITH {_MAX_KEY_SQL},
hit AS (
  SELECT * FROM orders
  WHERE o_orderkey > (SELECT m FROM mk) * 3 // 4
)
SELECT CAST(4 AS BIGINT) AS n_versions,
       CAST(4 AS BIGINT) AS n_files_total,
       CAST(1 AS BIGINT) AS n_files_scanned,
       (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_rows,
       (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) FROM hit) AS total_cents
""",
)
def snapshot_datasource_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    cuts = _key_cuts(orders, "o_orderkey", 4)
    where = [("o_orderkey", ">", cuts[3])]
    with scratch_dir("snap_dsw_") as root:
        for cond in _key_ranges("o_orderkey", cuts):
            # one write JOB per quartile through the DataSource writer
            (
                orders.filter(cond)
                .coalesce(1)
                .write.format("snapshot")
                .option("root", root)
                .mode("append")
                .save()
            )
        table = SnapshotTable(root)
        return _cents_lookup(
            table.read(spark, where=where),
            n_versions=len(table.versions()),
            **table.scan_stats(where=where),  # executor-collected stats
        )


# --------------------------------------------------------------------------
# Q: snapshot_stream_tail_rollup — the STREAMING source composed into the
# full stream→table→stream loop: table A receives three order commits;
# `spark.readStream.format("snapshot")` tails A's commit log
# (version-number offsets, one input partition per appended file) and a
# foreachBatch consumer lands every micro-batch into table B through the
# exactly-once snapshot sink (txn-stamped commits). The tail runs TWICE
# against one checkpoint — the second availableNow pass delivers only
# the commit that arrived in between — and the hashed result is B's
# per-priority rollup plus the computed B-equals-A boolean (one
# signed-multiset job over the key column, not an assumption). This is
# Delta's readStream-from-table mechanism: the thing a 100 TB pipeline
# chains stages with instead of re-scanning source tables.
# --------------------------------------------------------------------------
@query(
    "snapshot_stream_tail_rollup",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS stream_equals_source
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snapshot_stream_tail_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("cents")
    )
    thirds = [F.col("o_orderkey") % 3 == i for i in range(3)]
    with scratch_dir("snap_tail_") as tmp:
        a = SnapshotTable(os.path.join(tmp, "a"))
        b = SnapshotTable(os.path.join(tmp, "b"))
        sink = foreach_batch_snapshot_append(b, app_id="tail")

        def drain():
            q = (
                spark.readStream.format("snapshot")
                .option("root", a.root)
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        _append_each(a, orders, thirds[:2])
        drain()  # delivers commits 0-1
        _append_each(a, orders, thirds[2:])
        drain()  # same checkpoint: delivers ONLY commit 2
        bt = b.read(spark)
        eq = multisets_equal(
            bt.select("o_orderkey"), a.read(spark).select("o_orderkey")
        )
        return materialize(
            _with_counts(
                bt.groupBy("o_orderpriority").agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    F.sum("cents").cast("long").alias("total_cents"),
                ),
                stream_equals_source=eq,
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_served_pricing_summary — the HEADLINE query (pricing_summary,
# the reference's flagship filter→groupBy→agg shape,
# src/processing/mongo_avg_laptime_by_driver.py:33-41) served entirely
# through the snapshot DataSource: the full-width lineitem is committed
# year-per-file, then read back via ``format("snapshot")`` with BOTH scan
# economies engaged — the pushed ``l_shipdate < 2000`` predicate prunes 2
# of 7 files at the manifest (scan_stats arithmetic rides the hash), and
# the ``columns`` option narrows the read to 7 of 11 columns (parquet
# columnar pruning, so the other 4 cost zero I/O — the width arithmetic
# rides the hash too). The answer rows are the exact pricing-summary
# values, so this face pins that the SERVING path, not just the
# relational path, computes the flagship correctly with a pruned scan.
# tests/test_snapshot_source.py pins the wall-time ratio vs the
# raw-parquet twin.
# --------------------------------------------------------------------------
@query(
    "snapshot_served_pricing_summary",
    oracle="""
WITH files AS (
  SELECT count(DISTINCT year(l_shipdate)) AS n_total,
         count(DISTINCT CASE WHEN year(l_shipdate) < 2000
                             THEN year(l_shipdate) END) AS n_scanned
  FROM lineitem
),
width AS (SELECT CAST(count(*) AS BIGINT) AS n_cols_total
          FROM (DESCRIBE lineitem))
SELECT
  l_returnflag,
  l_linestatus,
  count(*) AS n_rows,
  round(sum(l_quantity), 2) AS sum_qty,
  round(avg(l_quantity), 6) AS avg_qty,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_extendedprice), 6) AS avg_price,
  count(DISTINCT l_partkey) AS n_parts,
  (SELECT CAST(n_total AS BIGINT) FROM files) AS n_files_total,
  (SELECT CAST(n_scanned AS BIGINT) FROM files) AS n_files_scanned,
  (SELECT n_cols_total FROM width) AS n_cols_total,
  CAST(7 AS BIGINT) AS n_cols_read
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2000-01-01'
  AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def snapshot_served_pricing_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register(spark)
    li = load_table(spark, sf_dir, "lineitem")  # full width: 11 columns
    need = [
        "l_returnflag",
        "l_linestatus",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    ]
    cut = datetime.datetime(2000, 1, 1)
    with scratch_dir("snap_price_") as root:
        table = SnapshotTable(root)
        _append_per_year(table, li, "l_shipdate", shuffle=True)
        rep = table.scan_stats(where=[("l_shipdate", "<", cut)])
        served = (
            spark.read.format("snapshot")
            .option("root", root)
            .option("columns", ",".join(need))
            .load()
            .filter(F.col("l_shipdate") < F.lit(cut))
            .filter(F.col("l_quantity").isNotNull() & ~F.isnan("l_quantity"))
        )
        # the same two-phase distinct-parts aggregation as pricing_summary
        disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        partial = served.groupBy(
            "l_returnflag", "l_linestatus", "l_partkey"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_quantity").alias("qty"),
            F.sum(disc).alias("dp"),
            F.sum("l_extendedprice").alias("price"),
        )
        summary = partial.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("cnt").alias("n_rows"),
            F.round(F.sum("qty"), 2).alias("sum_qty"),
            F.round(F.sum("qty") / F.sum("cnt"), 6).alias("avg_qty"),
            F.round(F.sum("dp"), 2).alias("sum_disc_price"),
            F.round(F.sum("price") / F.sum("cnt"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        return materialize(
            _with_counts(
                summary,
                **rep,
                n_cols_total=len(li.columns),
                n_cols_read=len(need),
            ).orderBy("l_returnflag", "l_linestatus")
        )


# --------------------------------------------------------------------------
# Q: snapshot_hidden_partitioning_scan — Iceberg-style partition
# TRANSFORMS under the value hash: lineitem commits into a
# month(l_shipdate) x bucket(8,l_suppkey) hidden layout (the derived
# directory columns never enter the table schema), then a query
# filtering only the SOURCE columns (shipdate range + supplier point
# probe) prunes through BOTH transforms composed with the footer stats.
# The oracle REPLAYS the exact pruning decision in SQL: one file per
# (month, bucket) group (the build repartitions by the transform
# expressions), scanned iff footer max(shipdate) clears the cut AND the
# portable-md5 bucket of the probed supplier matches AND the file's
# suppkey range contains the probe — so the skipping arithmetic, not
# just the answer, is hash-checked. At 100 TB this is the layout
# contract that keeps a time-range + point-probe scan proportional to
# one bucket of one month range, with no user-maintained layout column
# for predicates to miss.
# --------------------------------------------------------------------------
@query(
    "snapshot_hidden_partitioning_scan",
    oracle="""
WITH k AS (SELECT min(l_suppkey) AS kk FROM lineitem),
kb AS (
  SELECT CAST(('0x' || substr(md5(CAST(kk AS VARCHAR)), 1, 15)) AS BIGINT)
         % 8 AS bb
  FROM k
),
g AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS m,
         CAST(('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS b,
         max(l_shipdate) AS dmx,
         min(l_suppkey) AS smn,
         max(l_suppkey) AS smx
  FROM lineitem GROUP BY 1, 2
),
files AS (
  SELECT count(*) AS n_total,
         count(*) FILTER (WHERE dmx >= TIMESTAMP '2000-01-01'
                            AND b = (SELECT bb FROM kb)
                            AND smn <= (SELECT kk FROM k)
                            AND smx >= (SELECT kk FROM k)) AS n_scanned
  FROM g
)
SELECT year(l_shipdate) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue,
       (SELECT CAST(kk AS BIGINT) FROM k) AS probe_suppkey,
       (SELECT CAST(n_total AS BIGINT) FROM files) AS n_files_total,
       (SELECT CAST(n_scanned AS BIGINT) FROM files) AS n_files_scanned
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  AND l_suppkey = (SELECT kk FROM k)
GROUP BY 1
ORDER BY 1
""",
)
def snapshot_hidden_partitioning_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice"
    )
    probe = int(li.agg(F.min("l_suppkey")).head()[0])
    bucket8 = (
        F.conv(
            F.substring(F.md5(F.col("l_suppkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 8
    )
    where = [
        ("l_shipdate", ">=", datetime.datetime(2000, 1, 1)),
        ("l_suppkey", "=", probe),
    ]
    with scratch_dir("snap_hidden_") as root:
        table = SnapshotTable(root)
        # one task per (month, bucket) group -> exactly one data file per
        # hidden directory, so the oracle's group count IS the file count
        table.commit(
            _by_group(li, F.date_format("l_shipdate", "yyyy-MM"), bucket8),
            mode="append",
            partition_by=["month(l_shipdate)", "bucket(8,l_suppkey)"],
        )
        rep = table.scan_stats(where=where)
        rollup = (
            table.read(spark, where=where)
            .groupBy(F.year("l_shipdate").alias("ship_year"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                _cents_sum("l_extendedprice").alias("revenue"),
            )
        )
        return materialize(
            _with_counts(rollup, probe_suppkey=probe, **rep).orderBy(
                "ship_year"
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_metadata_count — count(*) answered from the MANIFEST ALONE
# (zero data files opened), the way Delta serves a bare count from its
# transaction log: orders commit into a hidden year(o_orderdate) layout,
# and three counts (total, a file-aligned year-range predicate, IS NULL)
# classify every file fully-in / fully-out through the dual
# _file_all_match / _file_may_match planners; any mixed file would
# return None and the served_from_manifest flag — carried in-hash —
# would go false. At 100 TB a sanity count is the most common query a
# table gets; this face pins that it costs O(manifest), exactly.
# --------------------------------------------------------------------------
@query(
    "snapshot_metadata_count",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1999-01-01')
            AS BIGINT) AS n_recent,
       CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
         AS n_null_dates,
       min(o_orderdate) AS o_min_date,
       max(o_orderdate) AS o_max_date,
       true AS served_from_manifest
FROM orders
""",
)
def snapshot_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    with scratch_dir("snap_metacount_") as root:
        table = SnapshotTable(root)
        _append_year_partitioned(table, orders)
        counts = [
            table.metadata_count(),
            table.metadata_count(
                where=[("o_orderdate", ">=", datetime.datetime(1999, 1, 1))]
            ),
            table.metadata_count(where=[("o_orderdate", "is_null", None)]),
        ]
        mm = table.metadata_min_max("o_orderdate")
        served = None not in counts and mm is not None
        row = (
            *(int(n if n is not None else -1) for n in counts),
            *(mm or (None, None)),
            served,
        )
        return materialize(
            spark.createDataFrame(
                [row],
                "n_total long, n_recent long, n_null_dates long, "
                "o_min_date timestamp, o_max_date timestamp, "
                "served_from_manifest boolean",
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_datasource_partitioned_write — the WRITE half of hidden
# partitioning through Spark's own writer protocol, end to end: lineitem
# lands via df.write.format("snapshot").option("partitionBy",
# "month(l_shipdate)") (executors split rows by transform tuple and
# write one file per month — flat files, point values in the manifest,
# Iceberg's model), then the same DataSource serves a shipdate-filtered
# rollup whose manifest pruning arithmetic rides the hash (files =
# distinct ship months, scanned = months with data past the cut). The
# whole lifecycle — distributed partitioned write, manifest publish,
# pushed-filter pruned read — never leaves the engine's own APIs.
# --------------------------------------------------------------------------
@query(
    "snapshot_datasource_partitioned_write",
    oracle="""
WITH g AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS m, max(l_shipdate) AS dmx
  FROM lineitem GROUP BY 1
),
files AS (
  SELECT count(*) AS n_total,
         count(*) FILTER (WHERE dmx >= TIMESTAMP '2001-01-01')
           AS n_scanned
  FROM g
)
SELECT year(l_shipdate) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       (SELECT CAST(n_total AS BIGINT) FROM files) AS n_files_total,
       (SELECT CAST(n_scanned AS BIGINT) FROM files) AS n_files_scanned
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def snapshot_datasource_partitioned_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_quantity"
    )
    cut = datetime.datetime(2001, 1, 1)
    with scratch_dir("snap_ds_pwrite_") as root:
        (
            # one task per month -> one file per month (the writer emits
            # one file per partition tuple PER TASK)
            _by_group(li, F.date_format("l_shipdate", "yyyy-MM"))
            .write.format("snapshot")
            .option("root", root)
            .option("partitionBy", "month(l_shipdate)")
            .mode("append")
            .save()
        )
        rep = SnapshotTable(root).scan_stats(where=[("l_shipdate", ">=", cut)])
        served = (
            spark.read.format("snapshot")
            .option("root", root)
            .load()
            .filter(F.col("l_shipdate") >= F.lit(cut))
            .groupBy(F.year("l_shipdate").alias("ship_year"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("l_quantity").cast("double").alias("sum_qty"),
            )
        )
        return materialize(_with_counts(served, **rep).orderBy("ship_year"))


# --------------------------------------------------------------------------
# Q: snapshot_constraint_audit — CHECK constraints under the value hash:
# orders commit into a snapshot table, two table contracts are added
# (price positivity; non-null keys — both validated against the existing
# data at ALTER time), then a VIOLATING append is attempted and must
# refuse without publishing (version pinned in-hash), while a satisfying
# append lands. The write-time-enforcement behavior itself — not just
# the data — is what the hashed row certifies. At 100 TB constraints are
# the only thing standing between one bad backfill job and a quietly
# poisoned table; each probe costs O(changeset), never O(table).
# --------------------------------------------------------------------------
@query(
    "snapshot_constraint_audit",
    oracle="""
SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows_after,
       CAST(2 AS BIGINT) AS n_constraints,
       true AS violating_append_refused,
       true AS version_unchanged_by_refusal,
       (count(*) FILTER (WHERE NOT (o_totalprice > 0)) = 0
        AND count(*) FILTER (WHERE o_orderkey IS NULL) = 0)
         AS table_satisfies
FROM orders
""",
)
def snapshot_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with scratch_dir("snap_constraint_") as root:
        table = SnapshotTable(root)
        table.commit(orders, mode="append")
        table.add_constraint(spark, "price_positive", "o_totalprice > 0")
        table.add_constraint(spark, "key_not_null", "o_orderkey IS NOT NULL")
        v_before = table.latest_version()
        row_type = "o_orderkey long, o_totalprice double"
        refused = False
        try:
            table.commit(
                spark.createDataFrame([(999999999, -1.0)], row_type),
                mode="append",
            )
        except ValueError:
            refused = True
        unchanged = table.latest_version() == v_before
        table.commit(
            spark.createDataFrame([(999999999, 1.0)], row_type),
            mode="append",
        )
        # the scan-side recheck the oracle mirrors: zero rows violate
        # either contract in the final table
        n_bad = (
            table.read(spark)
            .filter(~(F.col("o_totalprice") > 0) | F.col("o_orderkey").isNull())
            .count()
        )
        row = (
            int(table.count(spark)),
            len(_head_manifest(table).get("constraints", {})),
            refused,
            unchanged,
            n_bad == 0,
        )
        return materialize(
            spark.createDataFrame(
                [row],
                "n_rows_after long, n_constraints long, "
                "violating_append_refused boolean, "
                "version_unchanged_by_refusal boolean, "
                "table_satisfies boolean",
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_predicate_dml — copy-on-write DELETE ... WHERE then
# UPDATE ... SET ... WHERE under the value hash: orders commit into a
# hidden year(o_orderdate) layout (one file per year), a predicate
# delete removes every pre-1997 row — the skipping planner IS the DML
# planner, so exactly the pre-1997 year files rewrite (arithmetic
# replayed in the oracle) and the rest carry by identity — then a
# predicate update doubles post-2000 prices through the same machinery.
# The final rollup plus the rows-changed/files-rewritten counters are
# all hash-checked, and time travel keeps the pre-DML snapshot intact.
# At 100 TB the carry-by-identity set is the table; the rewrite set is
# the predicate's files.
# --------------------------------------------------------------------------
# the price after a predicate UPDATE doubled every post-2000 order's
_DOUBLED_SINCE_2000_SQL = """(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
                THEN o_totalprice * 2 ELSE o_totalprice END)"""


@query(
    "snapshot_predicate_dml",
    oracle=f"""
WITH del AS (
  SELECT count(*) AS n_deleted,
         count(DISTINCT CASE WHEN year(o_orderdate) < 1997
                             THEN year(o_orderdate) END) AS files_rewritten
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
),
upd AS (
  SELECT count(*) AS n_updated FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT year(o_orderdate) AS order_year,
       {_cents_rollup_sql(_DOUBLED_SINCE_2000_SQL)},
       (SELECT CAST(n_deleted AS BIGINT) FROM del) AS n_rows_deleted,
       (SELECT CAST(files_rewritten AS BIGINT) FROM del)
         AS n_files_rewritten,
       (SELECT CAST(n_updated AS BIGINT) FROM upd) AS n_rows_updated
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def snapshot_predicate_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    with scratch_dir("snap_dml_") as root:
        table = SnapshotTable(root)
        _append_year_partitioned(table, orders)
        drep = table.delete_where(
            spark, [("o_orderdate", "<", datetime.datetime(1997, 1, 1))]
        )
        urep = table.update_where(
            spark,
            {"o_totalprice": F.col("o_totalprice") * 2},
            [("o_orderdate", ">=", datetime.datetime(2000, 1, 1))],
        )
        return materialize(
            _with_counts(
                _cents_rollup(table.read(spark), [_order_year()]),
                n_rows_deleted=drep["rows_changed"],
                n_files_rewritten=drep["files_rewritten"],
                n_rows_updated=urep["rows_changed"],
            ).orderBy("order_year")
        )


# --------------------------------------------------------------------------
# Q: snapshot_rename_mapping_scan — column rename via NAME MAPPING under
# the value hash: half of lineitem commits, the price column is RENAMED
# (metadata-only — zero files rewritten), the other half appends under
# the new logical name, and one aggregate reads BOTH generations: the
# pre-rename files serve their bytes through the mapping (physical ->
# logical), the post-rename files directly. The sums over the full table
# equaling the oracle's proves no row was NULL-filled or dropped across
# the rename boundary — the failure mode a name-keyed format must prove
# it does not have. Pruning on the renamed column reaches pre-rename
# footer stats through the same alias (boolean in-hash).
# --------------------------------------------------------------------------
@query(
    "snapshot_rename_mapping_scan",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_price,
       true AS renamed_schema_served,
       true AS prune_reaches_old_files
FROM lineitem
""",
)
def snapshot_rename_mapping_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    with scratch_dir("snap_rename_") as root:
        table = SnapshotTable(root)
        _append_each(table, li, [F.col("l_orderkey") % 2 == 0], shuffle=True)
        table.rename_column("l_extendedprice", "price")
        _append_each(
            table,
            li.withColumnRenamed("l_extendedprice", "price"),
            [F.col("l_orderkey") % 2 == 1],
            shuffle=True,
        )
        got = table.read(spark)
        # pruning on the LOGICAL name must reach the pre-rename file's
        # footer stats (keyed by the physical name) through the alias
        hi = li.agg(F.max("l_extendedprice")).head()[0]
        rep = table.scan_stats(where=[("price", ">", float(hi))])
        return materialize(
            _with_counts(
                got.agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                    _cents_sum("price").alias("sum_price"),
                ),
                renamed_schema_served=(
                    got.columns == ["l_orderkey", "l_quantity", "price"]
                ),
                prune_reaches_old_files=(
                    rep["n_files_scanned"] == 0 and rep["n_files_total"] == 2
                ),
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_long_document_skipping — data skipping and predicate DELETE
# over >16 KB STRING values: the exact blast radius of the footer-stat
# truncation hazard (parquet writers truncate/drop string min/max above
# ~4 KB; pyarrow 16 reports the truncated bound as an EMPTY string with
# has_min_max still true — evidence that, ingested naively, "proves"
# matching files empty and makes a GDPR delete silently skip its rows).
# Here every document is padded past the threshold, so pruning can ONLY
# come from the commit path's exact write-time fold (truncation-BOUNDED
# 64-char min/max) — the footer offers nothing. Four files commit, one
# per leading marker; a range predicate over the long column scans
# exactly the provable files (prune decision replayed in the oracle from
# the same monotone-prefix argument), and a delete_where over the same
# column removes exactly the top marker group with one file rewritten.
# Match counts, character sums, skip accounting and DML accounting all
# ride the value hash.
# --------------------------------------------------------------------------
@query(
    "snapshot_long_document_skipping",
    oracle="""
WITH docs AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
              WHEN 0 THEN 'a-' WHEN 1 THEN 'h-'
              WHEN 2 THEN 'p-' ELSE 'w-' END AS marker,
         CASE CAST(doc_id % 4 AS INTEGER)
              WHEN 0 THEN 'a-' WHEN 1 THEN 'h-'
              WHEN 2 THEN 'p-' ELSE 'w-' END
           || text || repeat('z', 17000) AS big_text
  FROM documents
),
scan AS (
  SELECT CAST(count(*) AS BIGINT) AS n_match,
         CAST(sum(length(big_text)) AS BIGINT) AS match_chars
  FROM docs WHERE big_text >= 'p'
),
prune AS (
  SELECT CAST(count(DISTINCT CASE WHEN marker >= 'p' THEN marker END)
              AS BIGINT) AS n_scanned,
         CAST(count(DISTINCT marker) AS BIGINT) AS n_total
  FROM docs
),
del AS (
  SELECT CAST(count(*) AS BIGINT) AS n_deleted,
         CAST(count(DISTINCT marker) AS BIGINT) AS files_rewritten
  FROM docs WHERE big_text >= 'w'
)
SELECT marker,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(big_text)) AS BIGINT) AS total_chars,
       (SELECT n_match FROM scan) AS n_match_scan,
       (SELECT match_chars FROM scan) AS match_chars_scan,
       (SELECT n_scanned FROM prune) AS n_files_scanned,
       (SELECT n_total FROM prune) AS n_files_total,
       (SELECT n_deleted FROM del) AS n_rows_deleted,
       (SELECT files_rewritten FROM del) AS n_files_rewritten
FROM docs
WHERE big_text < 'w'
GROUP BY marker
ORDER BY marker
""",
)
def snapshot_long_document_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    marker = (
        F.when(F.col("doc_id") % 4 == 0, "a-")
        .when(F.col("doc_id") % 4 == 1, "h-")
        .when(F.col("doc_id") % 4 == 2, "p-")
        .otherwise("w-")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        marker.alias("marker"),
        F.concat(marker, F.col("text"), F.repeat(F.lit("z"), 17000)).alias(
            "big_text"
        ),
    )
    with scratch_dir("snap_longdoc_") as root:
        table = SnapshotTable(root)
        _append_each(
            table,
            docs,
            [F.col("marker") == m for m in ("a-", "h-", "p-", "w-")],
            shuffle=True,
        )
        # skipping on the long column: only the write-time fold can
        # prune (the footer recorded nothing above the threshold)
        rep = table.scan_stats(where=[("big_text", ">=", "p")])
        scan = table.read(spark, where=[("big_text", ">=", "p")]).agg(
            F.count(F.lit(1)).cast("long").alias("n_match"),
            F.sum(F.length("big_text")).cast("long").alias("match_chars"),
        ).head()
        # the GDPR case: predicate delete THROUGH the long column
        drep = table.delete_where(spark, [("big_text", ">=", "w")])
        return materialize(
            _with_counts(
                table.read(spark)
                .groupBy("marker")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum(F.length("big_text")).cast("long").alias("total_chars"),
                ),
                n_match_scan=int(scan.n_match),
                match_chars_scan=int(scan.match_chars),
                n_files_scanned=rep["n_files_scanned"],
                n_files_total=rep["n_files_total"],
                n_rows_deleted=drep["rows_changed"],
                n_files_rewritten=drep["files_rewritten"],
            ).orderBy("marker")
        )


# --------------------------------------------------------------------------
# Q: snapshot_served_q3_join — the second SERVED headline: TPC-H Q3's
# two-join top-10 runs entirely through format("snapshot") scans of three
# snapshot tables, with the per-table ``columns`` option DERIVED from the
# query by ``served_read_tables`` (Spark 4.1's Python DataSource API has
# no pruneColumns hook, so projection pruning is a wrapper concern) —
# customer serves 2 of 5 columns, orders 3 of 6, lineitem 4 of 11, and
# that width arithmetic rides the value hash next to the query result,
# so a regression to full-width serving hash-mismatches. The wall-time
# pin lives in tests/test_snapshot_source.py::test_served_q3_join_wall_time.
# --------------------------------------------------------------------------
@query(
    "snapshot_served_q3_join",
    oracle=f"""
{_TPCH_Q3_SELECT_SQL},
       (SELECT CAST(count(*) AS BIGINT) FROM (DESCRIBE customer))
         AS cust_cols_total,
       CAST(2 AS BIGINT) AS cust_cols_read,
       (SELECT CAST(count(*) AS BIGINT) FROM (DESCRIBE orders))
         AS orders_cols_total,
       CAST(3 AS BIGINT) AS orders_cols_read,
       (SELECT CAST(count(*) AS BIGINT) FROM (DESCRIBE lineitem))
         AS li_cols_total,
       CAST(4 AS BIGINT) AS li_cols_read
{_TPCH_Q3_FROM_SQL}
""",
)
def snapshot_served_q3_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch_dir("snap_q3_") as base:
        roots = {}
        for name in ("customer", "orders", "lineitem"):
            roots[name] = f"{base}/{name}"
            SnapshotTable(roots[name]).commit(
                load_table(spark, sf_dir, name).repartition(2),
                mode="append",
            )
        register(spark)
        report: dict = {}
        q3 = served_read_tables(spark, roots, _tpch_q3, report=report)
        return materialize(
            _with_counts(
                q3,
                cust_cols_total=report["customer"][1],
                cust_cols_read=report["customer"][0],
                orders_cols_total=report["orders"][1],
                orders_cols_read=report["orders"][0],
                li_cols_total=report["lineitem"][1],
                li_cols_read=report["lineitem"][0],
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_positional_delete_serving — merge-on-read predicate DELETE
# via POSITIONAL DELETION VECTORS (Iceberg v2 position deletes / Delta
# deletion vectors): orders commit one file per hidden year(o_orderdate)
# partition, a predicate delete of every pre-1997 row writes (file,
# row-ordinal) addresses — ZERO files rewritten, no key columns — and
# both read paths (relational scan and the DataSource serving face)
# anti-join the vector. The oracle replays the post-delete rollup, the
# deleted-row count, and the files-touched arithmetic (exactly the
# pre-1997 year files, because the skipping planner scopes the DV scan);
# rewritten-file count 0 and the untouched-data-files / both-paths-agree
# booleans ride the hash.
# --------------------------------------------------------------------------
@query(
    "snapshot_positional_delete_serving",
    oracle=f"""
WITH del AS (
  SELECT CAST(count(*) AS BIGINT) AS n_deleted,
         CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS files_touched
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT year(o_orderdate) AS order_year,
       {_CENTS_ROLLUP_SQL},
       (SELECT n_deleted FROM del) AS n_rows_deleted,
       (SELECT files_touched FROM del) AS n_files_touched,
       CAST(0 AS BIGINT) AS n_files_rewritten,
       true AS data_files_untouched,
       true AS both_paths_agree
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def snapshot_positional_delete_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    with scratch_dir("snap_dv_") as root:
        table = SnapshotTable(root)
        _append_year_partitioned(table, orders)
        m0 = _head_manifest(table)
        rep = table.delete_where_mor(
            spark, [("o_orderdate", "<", datetime.datetime(1997, 1, 1))]
        )
        rel = _cents_rollup(table.read(spark), [_order_year()])
        register(spark)
        served = _cents_rollup(
            spark.read.format("snapshot").option("root", root).load(),
            [_order_year()],
        )
        agree = sorted(map(tuple, rel.collect())) == sorted(
            map(tuple, served.collect())
        )
        return materialize(
            _with_counts(
                rel,
                n_rows_deleted=rep["rows_deleted"],
                n_files_touched=rep["files_touched"],
                n_files_rewritten=rep["files_rewritten"],
                data_files_untouched=_head_manifest(table)["files"]
                == m0["files"],
                both_paths_agree=agree,
            ).orderBy("order_year")
        )


# --------------------------------------------------------------------------
# Q: snapshot_mor_update_purge — the full merge-on-read DML lifecycle
# under the value hash: orders commit one file per hidden
# year(o_orderdate) partition; `update_where_mor` doubles post-2000
# prices (ONE version = a position vector masking the old images + new
# files holding the updated ones — zero rewrites); `delete_where_mor`
# removes every pre-1996 row the same way; then `optimize_deletions`
# pays the read tax back — the three fully-masked year files (their
# every row updated or deleted) cross the 50 % threshold and rewrite to
# NOTHING (their live rows are empty), dropping their vectors, while
# the untouched 1996-1999 files never rewrite. The post-lifecycle
# rollup, both DML row counts, the purge's file/row arithmetic, and the
# vectors-all-gone count ride the hash; the oracle replays everything
# from the base table.
# --------------------------------------------------------------------------
@query(
    "snapshot_mor_update_purge",
    oracle=f"""
WITH upd AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS nf
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
),
del AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS nf
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
)
SELECT year(o_orderdate) AS order_year,
       {_cents_rollup_sql(_DOUBLED_SINCE_2000_SQL)},
       (SELECT n FROM upd) AS n_rows_updated,
       (SELECT n FROM del) AS n_rows_deleted,
       (SELECT nf FROM upd) + (SELECT nf FROM del) AS n_files_purged,
       (SELECT n FROM upd) + (SELECT n FROM del) AS n_rows_purged,
       CAST(0 AS BIGINT) AS vectors_after_purge
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def snapshot_mor_update_purge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    with scratch_dir("snap_morp_") as root:
        table = SnapshotTable(root)
        _append_year_partitioned(table, orders)
        urep = table.update_where_mor(
            spark,
            {"o_totalprice": F.col("o_totalprice") * 2},
            [("o_orderdate", ">=", datetime.datetime(2000, 1, 1))],
        )
        drep = table.delete_where_mor(
            spark, [("o_orderdate", "<", datetime.datetime(1996, 1, 1))]
        )
        prep = table.optimize_deletions(spark, min_masked_fraction=0.5)
        return materialize(
            _with_counts(
                _cents_rollup(table.read(spark), [_order_year()]),
                n_rows_updated=urep["rows_updated"],
                n_rows_deleted=drep["rows_deleted"],
                n_files_purged=prep["files_rewritten"],
                n_rows_purged=prep["rows_purged"],
                vectors_after_purge=len(_head_manifest(table).get("dvs") or []),
            ).orderBy("order_year")
        )


# --------------------------------------------------------------------------
# Q: snapshot_history_audit — DESCRIBE HISTORY under the value hash:
# three deterministic versions (per-year append -> positional delete of
# pre-1996 -> purge compaction of the fully-masked year file) and the
# ENTIRE audit trail — modes, file add/remove deltas, metadata-provable
# row counts (NULL exactly while the vector is live), vector counts — is
# replayed by the oracle from the base table's year arithmetic. The
# history comes from the manifest log alone; no data file is opened to
# produce it.
# --------------------------------------------------------------------------
@query(
    "snapshot_history_audit",
    oracle="""
WITH y AS (
  SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS nf,
         CAST(count(*) AS BIGINT) AS nr
  FROM orders
),
d AS (
  SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS nf,
         CAST(count(*) AS BIGINT) AS nr
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS version, 'append' AS mode,
         (SELECT nf FROM y) AS n_files,
         (SELECT nf FROM y) AS n_added,
         CAST(0 AS BIGINT) AS n_removed,
         (SELECT nr FROM y) AS n_rows,
         CAST(0 AS BIGINT) AS n_deletion_vectors
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'delete-dv',
         (SELECT nf FROM y), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'optimize-deletions',
         (SELECT nf FROM y) - (SELECT nf FROM d),
         CAST(0 AS BIGINT), (SELECT nf FROM d),
         (SELECT nr FROM y) - (SELECT nr FROM d), CAST(0 AS BIGINT)
) AS t
ORDER BY version
""",
)
def snapshot_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _dated_orders(spark, sf_dir)
    schema = (
        "version long, mode string, n_files long, n_added long, "
        "n_removed long, n_rows long, n_deletion_vectors long"
    )
    cols = [field.split()[0] for field in schema.split(", ")]
    with scratch_dir("snap_hist_") as root:
        table = SnapshotTable(root)
        _append_year_partitioned(table, orders)
        table.delete_where_mor(
            spark, [("o_orderdate", "<", datetime.datetime(1996, 1, 1))]
        )
        table.optimize_deletions(spark, min_masked_fraction=0.5)
        rows = [tuple(h[c] for c in cols) for h in table.describe_history()]
        return materialize(
            spark.createDataFrame(rows, schema).orderBy("version")
        )


# --------------------------------------------------------------------------
# Q: snapshot_row_change_feed — the ROW-LEVEL change data feed (Delta
# CDF's table_changes shape) driven through the full merge-on-read DML
# lifecycle and consumed by INCREMENTAL VIEW MAINTENANCE: orders land in
# three append batches with a positional-vector DELETE and a
# merge-on-read UPDATE in between (``_mor_cdf_lifecycle``);
# read_row_changes_since tags every changed row (insert / delete /
# update_preimage / update_postimage + commit version), and folding that
# feed into an EMPTY rollup (operators/ivm.apply_row_feed_to_rollup) must
# reproduce the recomputed rollup exactly — the per-type feed counts, the
# maintained rollup values, and the equality proof all ride the hash. At
# 100 TB this is the contract that lets a CDC-maintained index or view
# survive a GDPR delete with O(changed rows) work instead of a full
# resync: the feed's delete images come from the deletion vector (a
# semi-join against O(deleted rows) addresses), never from rescanning
# the table.
# --------------------------------------------------------------------------
@query("snapshot_row_change_feed", oracle=_MOR_CDF_ORACLE)
def snapshot_row_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _cents_rows(spark, sf_dir)
    with scratch_dir("snap_cdf_") as root:
        t = SnapshotTable(root)
        _mor_cdf_lifecycle(spark, t, rows)
        feed = materialize(read_row_changes_since(spark, t, None)[0])
        maintained = materialize(
            apply_row_feed_to_rollup(
                spark.createDataFrame([], "pr string, n long, s long"),
                feed,
                ["pr"],
                "cents",
            )
        )
        return materialize(
            _feed_readout(spark, t, maintained, _change_counts(feed)).orderBy(
                "o_orderpriority"
            )
        )


# --------------------------------------------------------------------------
# Q: snapshot_served_dv_scan — the STORAGE SERVING PATH in the bench set:
# a DV-masked, manifest-pruned DataSource scan timed round-over-round.
# Orders commit as 4 key-range files, a merge-on-read DELETE masks every
# row under 100k total price (zero files rewritten — the vector holds the
# addresses), and the served query reads ``format("snapshot")`` with a
# pushed key predicate that PRUNES 3 of the 4 files at the manifest; the
# surviving file's rows pass through the executor-side deletion-vector
# mask. The table build is CACHED per (sf_dir, process): bench's min-of-5
# sweeps therefore time the pure SERVING wall time — scan + prune + DV
# mask + agg — which is the number that must stay pinned as the storage
# layer evolves, while the correctness driver's single call still
# exercises build + serve end-to-end against the oracle. File-count
# arithmetic (4 total / 1 scanned) rides the hash.
# --------------------------------------------------------------------------
def _served_dv_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """(root, first quartile key cut) of the served DV scan's table."""

    def build(t: SnapshotTable) -> int:
        rows = _cents_rows(spark, sf_dir)
        cuts = _key_cuts(rows, "k", 4)
        _append_each(t, rows, _key_ranges("k", cuts), shuffle=True)
        t.delete_where_mor(spark, [("cents", "<", 10_000_000)])
        return cuts[1]

    return _cached_table("snap_servedv_", sf_dir, build)


@query(
    "snapshot_served_dv_scan",
    oracle=f"""
WITH {_MAX_KEY_SQL}, {_CENTS_ROWS_SQL}
SELECT pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(4 AS BIGINT) AS n_files_total,
       CAST(1 AS BIGINT) AS n_files_scanned
FROM base
WHERE k <= (SELECT m * 1 // 4 FROM mk) AND cents >= 10000000
GROUP BY pr
ORDER BY pr
""",
    bench=True,
)
def snapshot_served_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register(spark)
    root, q1 = _served_dv_table(spark, sf_dir)
    stats = SnapshotTable(root).scan_stats(where=[("k", "<=", q1)])
    served = (
        spark.read.format("snapshot")
        .option("root", root)
        .load()
        .filter(F.col("k") <= q1)
        .groupBy("pr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )
    # no materialize and no display orderBy on the serving face: the
    # cached table outlives the call, the hash gate is order-insensitive,
    # and a localCheckpoint would add a full extra job per timed run. The
    # returned plan is the REAL serving plan (BatchScan snapshot → agg),
    # which is also what the plan audits see.
    return _with_counts(
        served.select(
            F.col("pr").alias("o_orderpriority"), "n_orders", "sum_cents"
        ),
        **stats,
    )


# --------------------------------------------------------------------------
# Q: snapshot_streaming_cdf_rollup — the STREAMING change data feed
# (readChangeFeed — Delta CDF parity) under the oracle gate: the same MoR
# lifecycle and oracle as snapshot_row_change_feed is consumed LIVE by
# Structured Streaming — version-offset micro-batches of (row,
# _change_type, _commit_version) — and folded into a maintained rollup
# inside foreachBatch. The maintained view, the per-type change counts,
# and the equality-with-recompute proof ride the hash. Executor-parallel
# delete delivery: the delete's rows come from the deletion vector's
# bucket slices (positive position selection, O(changed rows)), never a
# table rescan — the mechanism that lets an index/view tail a 100 TB
# table through GDPR deletes.
# --------------------------------------------------------------------------
@query("snapshot_streaming_cdf_rollup", oracle=_MOR_CDF_ORACLE)
def snapshot_streaming_cdf_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register(spark)
    rows = _cents_rows(spark, sf_dir)
    with scratch_dir("snap_scdf_") as tmp:
        t = SnapshotTable(os.path.join(tmp, "t"))
        _mor_cdf_lifecycle(spark, t, rows)
        state = {
            "rollup": spark.createDataFrame([], "pr string, n long, s long"),
            "counts": {},
        }

        def fold(batch_df, _bid):
            # Two jobs per micro-batch: DataFrame.observe cannot fuse the
            # counts into the fold, because Observation.get never receives
            # metrics for actions run inside foreachBatch on this build
            # (it blocks to timeout and reads zeros). The feed delivers
            # the whole pending history as ONE availableNow batch, so the
            # extra job is a constant.
            for kind, n in _change_counts(batch_df).items():
                state["counts"][kind] = state["counts"].get(kind, 0) + n
            state["rollup"] = materialize(
                apply_row_feed_to_rollup(
                    state["rollup"], batch_df, ["pr"], "cents"
                )
            )

        q = (
            spark.readStream.format("snapshot")
            .option("root", t.root)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # no trailing display orderBy: order-insensitive hash
        return materialize(
            _feed_readout(spark, t, state["rollup"], state["counts"])
        )


# --------------------------------------------------------------------------
# Q: snapshot_dv_consolidation_report — deletion-vector CONSOLIDATION
# under the oracle gate: six sequential merge-on-read DELETEs (disjoint
# key ranges — each writes its own positional vector, zero files
# rewritten) grow the vector record list to 6; the scan planner would
# then open up to 6 bucket slices per task. consolidate_deletion_vectors
# folds them into ONE per-bucket vector in a metadata + O(deleted rows)
# version, after which EVERY task carries at most one slice (the planner
# bound is asserted and rides the hash, as do the record counts, the
# consolidated address count, and the relational≡served agreement). At
# 100 TB this is what keeps N small GDPR deletes from multiplying every
# scan's read amplification by N.
# --------------------------------------------------------------------------
@query(
    "snapshot_dv_consolidation_report",
    oracle=f"""
WITH {_MAX_KEY_SQL}, {_CENTS_ROWS_SQL}
SELECT pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(6 AS BIGINT) AS dv_records_before,
       CAST(1 AS BIGINT) AS dv_records_after,
       (SELECT CAST(count(*) AS BIGINT) FROM base
        WHERE k < (SELECT m * 6 // 12 FROM mk)) AS rows_consolidated,
       CAST(1 AS BIGINT) AS max_dv_slices_per_task,
       true AS served_equals_relational
FROM base
WHERE k >= (SELECT m * 6 // 12 FROM mk)
GROUP BY pr
ORDER BY pr
""",
)
def snapshot_dv_consolidation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register(spark)
    rows = _cents_rows(spark, sf_dir)
    cuts = _key_cuts(rows, "k", 12)[:7]  # six disjoint key slices
    with scratch_dir("snap_dvc_") as root:
        t = SnapshotTable(root)
        t.commit(rows.repartition(3), mode="append")
        for lo, hi in zip(cuts, cuts[1:]):
            t.delete_where_mor(spark, [("k", ">=", lo), ("k", "<", hi)])
        before = len(_head_manifest(t)["dvs"])
        rep = t.consolidate_deletion_vectors(spark, max_records=4)
        m = t._read_manifest(rep["version"])
        reader = SnapshotReader(m, StructType.fromJson(json.loads(m["schema"])))
        rel = rollup_of(t.read(spark), ["pr"], "cents")
        served = rollup_of(
            spark.read.format("snapshot").option("root", root).load(),
            ["pr"],
            "cents",
        )
        return materialize(
            _with_counts(
                rel.select(
                    F.col("pr").alias("o_orderpriority"),
                    F.col("n").alias("n_orders"),
                    F.col("s").alias("sum_cents"),
                ),
                dv_records_before=before,
                dv_records_after=len(m["dvs"]),
                rows_consolidated=rep["rows_carried"],
                max_dv_slices_per_task=max(
                    len(p.dv_dirs) for p in reader.partitions()
                ),
                served_equals_relational=_by_priority(rel)
                == _by_priority(served),
            ).orderBy("o_orderpriority")
        )


# --------------------------------------------------------------------------
# Q: snapshot_cdf_fold_serving — FEED-CONSUMPTION wall time in the bench
# set: the snapshot table is built ONCE per (sf_dir, process) with a
# MIXED MoR+CoW DML history — two appends, a copy-on-write DELETE (writes
# change-data images), a copy-on-write UPDATE (image pairs), a
# merge-on-read DELETE (positional vector), a third append — and the
# BENCHED body is the pure downstream-consumer path: drain
# read_row_changes_since from a cold cursor (baseline scan + insert scans
# + CHANGE-DATA image reads + DV positive selection), fold it into a
# maintained rollup, and prove the fold equals a from-scratch recompute
# (computed once with the build: it is deterministic per table). bench's
# min-of-5 therefore tracks how fast a 100 TB incremental consumer could
# drain this table's history; the correctness driver's single call still
# exercises build + consume end-to-end against the oracle.
# --------------------------------------------------------------------------
def _cdf_fold_table(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """(root, recomputed ``{pr: (n, s)}``) of the mixed-history table."""

    def dml(t: SnapshotTable) -> None:
        t.delete_where(spark, [("cents", "<", 5_000_000)])  # CoW: images
        t.update_where(  # CoW: image pairs
            spark, {"cents": "cents + 7"}, [("pr", "=", "1-URGENT")]
        )
        t.delete_where_mor(spark, [("cents", ">", 40_000_000)])  # MoR: vector

    def build(t: SnapshotTable) -> dict:
        _appends_around(t, _cents_rows(spark, sf_dir), dml)
        return _by_priority(rollup_of(t.read(spark), ["pr"], "cents"))

    return _cached_table("snap_cdffold_", sf_dir, build)


# the SQL twin of _cdf_fold_table's history: ``ab`` the first two appends,
# ``surv1`` what the copy-on-write DELETE keeps, ``upd`` those rows after
# the copy-on-write UPDATE
_CDF_FOLD_SQL = f"""{_MAX_KEY_SQL}, {_CENTS_ROWS_SQL},
ab AS (SELECT * FROM base WHERE k <= (SELECT m * 2 // 3 FROM mk)),
surv1 AS (SELECT * FROM ab WHERE cents >= 5000000),
upd AS (
  SELECT k, pr,
         CASE WHEN pr = '1-URGENT' THEN cents + 7 ELSE cents END AS cents
  FROM surv1
)"""


@query(
    "snapshot_cdf_fold_serving",
    oracle=f"""
WITH {_CDF_FOLD_SQL},
c AS (SELECT * FROM base WHERE k > (SELECT m * 2 // 3 FROM mk)),
surv2 AS (SELECT * FROM upd WHERE cents <= 40000000),
live AS (SELECT * FROM surv2 UNION ALL SELECT * FROM c),
ctr AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_ins,
         (SELECT CAST(count(*) AS BIGINT) FROM ab
          WHERE cents < 5000000) AS n_del_cow,
         (SELECT CAST(count(*) AS BIGINT) FROM upd
          WHERE cents > 40000000) AS n_del_mor,
         (SELECT CAST(count(*) AS BIGINT) FROM surv1
          WHERE pr = '1-URGENT') AS n_upd
)
SELECT pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       (SELECT n_ins FROM ctr) AS n_insert_rows,
       (SELECT n_del_cow + n_del_mor FROM ctr) AS n_delete_rows,
       (SELECT n_upd FROM ctr) AS n_update_pre_rows,
       (SELECT n_upd FROM ctr) AS n_update_post_rows,
       true AS fold_matches_recompute
FROM live
GROUP BY pr
ORDER BY pr
""",
    bench=True,
)
def snapshot_cdf_fold_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    root, recomputed = _cdf_fold_table(spark, sf_dir)
    feed, _cursor = read_row_changes_since(spark, SnapshotTable(root), None)
    # SINGLE-PASS serving: the per-type counts and the IVM fold are both
    # aggregations of the same feed, so one groupBy(pr, _change_type)
    # computes everything. The fold is `apply_row_feed_to_rollup` over an
    # EMPTY rollup, which is exactly the signed aggregation
    #   n(pr) = Σ sign·count,  s(pr) = Σ sign·sum(coalesce(cents, 0))
    # with sign +1 for insert/update_postimage and −1 for
    # delete/update_preimage, keeping groups with n > 0 (the identical
    # NULL-contributes-0 rule — see operators/ivm.py); the per-type counts
    # are the same cells summed over pr. The ≤(5 pr × 4 type) cells are
    # collected once and both results derived driver-side, with no
    # checkpoint (one consumer). Catalyst still pushes the 3-column
    # projection into every per-version scan.
    grouped = (
        feed.select("pr", "cents", "_change_type")
        .groupBy("pr", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("cents").cast("long"), F.lit(0)))
            .cast("long")
            .alias("s"),
        )
        .collect()
    )
    counts: dict = {}
    fold: dict = {}
    for r in grouped:
        kind = r["_change_type"]
        counts[kind] = counts.get(kind, 0) + r["n"]
        sign = 1 if kind in ("insert", "update_postimage") else -1
        fn, fs = fold.get(r["pr"], (0, 0))
        fold[r["pr"]] = (fn + sign * r["n"], fs + sign * r["s"])
    fold = {pr: ns for pr, ns in fold.items() if ns[0] > 0}
    matches = fold == recomputed
    # the returned frame is a LocalRelation of the fold's rows + counters:
    # the driver's later collect of this 5-row result costs nothing
    return spark.createDataFrame(
        [
            (
                pr,
                int(n),
                int(s),
                counts.get("insert", 0),
                counts.get("delete", 0),
                counts.get("update_preimage", 0),
                counts.get("update_postimage", 0),
                matches,
            )
            for pr, (n, s) in fold.items()
        ],
        "o_orderpriority string, n_orders long, sum_cents long, "
        "n_insert_rows long, n_delete_rows long, n_update_pre_rows long, "
        "n_update_post_rows long, fold_matches_recompute boolean",
    )


# --------------------------------------------------------------------------
# Q: snapshot_batch_cdf_projected — the BATCH change-data-feed DataSource
# face (Delta's ``table_changes`` parity) under the oracle gate: the same
# cached mixed MoR+CoW table as snapshot_cdf_fold_serving is read with
# ``spark.read.format("snapshot").option("readChangeFeed",
# "true").option("columns", "cents")`` — version-bounded change
# partitions (CoW versions from their commit-time image files, the MoR
# delete from its vector's bucket slices) with the feed NARROWED to one
# column (projection pushdown: the executor fetches only that byte
# range; the mask machinery rides its own columns). Per-change-type row
# counts and cent sums ride the hash, derived independently by the
# oracle from the DML arithmetic.
# --------------------------------------------------------------------------
@query(
    "snapshot_batch_cdf_projected",
    oracle=f"""
WITH {_CDF_FOLD_SQL}
SELECT * FROM (
  SELECT 'insert' AS change_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM base
  UNION ALL
  SELECT 'delete',
         CAST((SELECT count(*) FROM ab WHERE cents < 5000000)
            + (SELECT count(*) FROM upd WHERE cents > 40000000) AS BIGINT),
         CAST((SELECT coalesce(sum(cents), 0) FROM ab WHERE cents < 5000000)
            + (SELECT coalesce(sum(cents), 0) FROM upd
               WHERE cents > 40000000) AS BIGINT)
  UNION ALL
  SELECT 'update_preimage',
         (SELECT CAST(count(*) AS BIGINT) FROM surv1 WHERE pr = '1-URGENT'),
         (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM surv1
          WHERE pr = '1-URGENT')
  UNION ALL
  SELECT 'update_postimage',
         (SELECT CAST(count(*) AS BIGINT) FROM surv1 WHERE pr = '1-URGENT'),
         (SELECT CAST(coalesce(sum(cents), 0) + 7 * count(*) AS BIGINT)
          FROM surv1 WHERE pr = '1-URGENT')
)
ORDER BY change_type
""",
)
def snapshot_batch_cdf_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    register(spark)
    root, _ = _cdf_fold_table(spark, sf_dir)
    feed = (
        spark.read.format("snapshot")
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("columns", "cents")
        .load()
    )
    return materialize(
        feed.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            F.col("_change_type").alias("change_type"),
            "n_rows",
            "sum_cents",
        )
        .orderBy("change_type")
    )
