"""Snapshot-versioned table: atomic commits, time travel, rollback,
optimistic concurrency, orphan detection (sources/snapshots.py).

Covers the transactional sink semantics the reference delegated to MongoDB
(SURVEY.md §2 S4/S6) re-hosted on parquet + manifests."""

from __future__ import annotations

import os

import pytest

from f1_bigdata_pyspark_spark.sources.snapshots import (
    SnapshotConflictError,
    SnapshotTable,
)


@pytest.fixture
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_append_commits_and_time_travel(spark, table):
    v0 = table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="append")
    v1 = table.commit(_df(spark, [(3, "c")]), mode="append")
    assert (v0, v1) == (0, 1)
    assert table.read(spark, version=0).count() == 2
    assert table.read(spark, version=1).count() == 3
    assert table.read(spark).count() == 3  # latest
    # v0's result is stable even after later commits (immutable files)
    assert sorted(r.k for r in table.read(spark, version=0).collect()) == [1, 2]


def test_overwrite_is_logical_truncate_with_history(spark, table):
    table.commit(_df(spark, [(1, "a")]), mode="append")
    table.commit(_df(spark, [(9, "z")]), mode="overwrite")
    assert table.read(spark).count() == 1
    assert table.read(spark).collect()[0].k == 9
    # the pre-overwrite version still reads (no delete-then-write window)
    assert table.read(spark, version=0).collect()[0].k == 1


def test_rollback_publishes_new_version(spark, table):
    table.commit(_df(spark, [(1, "a")]), mode="append")
    table.commit(_df(spark, [(2, "b")]), mode="append")
    v = table.rollback(0)
    assert v == 2
    assert table.read(spark).count() == 1  # back to v0's content
    assert table.read(spark, version=1).count() == 2  # history intact
    assert [h["version"] for h in table.history()] == [0, 1, 2]


def test_optimistic_concurrency_conflict(spark, table):
    table.commit(_df(spark, [(1, "a")]), mode="append")
    # writer A read v0; writer B commits first; A's commit must refuse
    table.commit(_df(spark, [(2, "b")]), mode="append")
    with pytest.raises(SnapshotConflictError):
        table.commit(
            _df(spark, [(3, "c")]), mode="append", expected_base_version=0
        )
    # retry on top of the winner succeeds
    v = table.commit(
        _df(spark, [(3, "c")]), mode="append", expected_base_version=1
    )
    assert v == 2
    assert table.read(spark).count() == 3


def test_duplicate_version_publish_refused(spark, table):
    table.commit(_df(spark, [(1, "a")]), mode="append")
    m = table._read_manifest(0)
    with pytest.raises(SnapshotConflictError):
        table._publish(0, m)


def test_orphans_detected_not_referenced(spark, table):
    table.commit(_df(spark, [(1, "a")]), mode="append")
    # simulate a crashed commit: data files written, manifest never published
    crashed = os.path.join(table.data_dir, "commit-deadbeef")
    _df(spark, [(7, "x")]).write.parquet(crashed)
    orphans = table.orphan_files()
    assert orphans and all("commit-deadbeef" in p for p in orphans)
    # reads are unaffected by orphans
    assert table.read(spark).count() == 1


def test_empty_read_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.read(spark)


def test_snapshot_diff_cdc(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff

    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="append")
    table.commit(_df(spark, [(1, "a"), (2, "B"), (4, "d")]), mode="overwrite")
    diff = snapshot_diff(spark, table, 0, 1, ["k"])
    got = {r.k: r.change_type for r in diff.collect()}
    assert got == {2: "update", 3: "delete", 4: "insert"}  # 1 unchanged
    # updated payload carries the NEW row
    assert [r.row.v for r in diff.collect() if r.k == 2] == ["B"]


def test_snapshot_diff_null_transition_is_update(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff

    table.commit(_df(spark, [(1, "a")]), mode="append")
    table.commit(_df(spark, [(1, None)]), mode="overwrite")
    diff = snapshot_diff(spark, table, 0, 1, ["k"]).collect()
    assert len(diff) == 1 and diff[0].change_type == "update"


def test_vacuum_retains_window_and_removes_the_rest(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    table.commit(_df(spark, [(1, "a")]), mode="append")       # v0
    table.commit(_df(spark, [(2, "b")]), mode="append")       # v1
    table.commit(_df(spark, [(9, "z")]), mode="overwrite")    # v2
    table.commit(_df(spark, [(10, "y")]), mode="append")      # v3
    # grace_seconds=0: this test IS the exclusive writer, reclaim now
    stats = vacuum(table, keep_versions=2, grace_seconds=0)
    assert stats["removed_manifests"] == 2
    # v0/v1's overwritten files are gone, v2/v3 still read fine
    assert stats["removed_files"] >= 1
    assert table.versions() == [2, 3]
    assert sorted(r.k for r in table.read(spark, version=3).collect()) == [9, 10]
    assert table.read(spark, version=2).count() == 1
    # the retention window really is the boundary: v1 is unreadable now
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        table.read(spark, version=1)


def test_incremental_change_feed_exactly_once(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import read_changes_since

    table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="append")
    df, cur = read_changes_since(spark, table, None)
    assert sorted(r.k for r in df.collect()) == [1, 2] and cur == 0
    # nothing new -> no frame, cursor unchanged
    df2, cur2 = read_changes_since(spark, table, cur)
    assert df2 is None and cur2 == 0
    # two more commits consumed in ONE incremental read, no re-delivery
    table.commit(_df(spark, [(3, "c")]), mode="append")
    table.commit(_df(spark, [(4, "d")]), mode="append")
    df3, cur3 = read_changes_since(spark, table, cur)
    assert sorted(r.k for r in df3.collect()) == [3, 4] and cur3 == 2


def test_change_feed_refuses_overwrite_gap(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import read_changes_since

    table.commit(_df(spark, [(1, "a")]), mode="append")
    _, cur = read_changes_since(spark, table, None)
    table.commit(_df(spark, [(9, "z")]), mode="overwrite")
    with pytest.raises(ValueError):
        read_changes_since(spark, table, cur)


def test_vacuum_grace_period_spares_inflight_commit_files(spark, table):
    """A commit() racing vacuum has a window between writing its parquet
    files and publishing the manifest where the files look orphaned; the
    default grace period must spare them (Delta VACUUM's retention
    defense). Simulated by vacuuming with fresh unreferenced files on
    disk: default grace keeps them, grace 0 destroys them."""
    import os

    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    table.commit(_df(spark, [(1, "a")]), mode="append")   # v0
    table.commit(_df(spark, [(2, "b")]), mode="append")   # v1
    table.commit(_df(spark, [(3, "c")]), mode="append")   # v2
    # stage an "in-flight commit": parquet written, manifest not yet
    inflight_dir = os.path.join(table.data_dir, "commit-inflight")
    _df(spark, [(99, "x")]).write.parquet(inflight_dir)
    staged = sorted(
        os.path.join(inflight_dir, f)
        for f in os.listdir(inflight_dir)
        if f.endswith(".parquet")
    )
    assert staged
    vacuum(table, keep_versions=2)  # default grace
    assert all(os.path.exists(p) for p in staged), "grace period violated"
    vacuum(table, keep_versions=2, grace_seconds=0)
    assert not any(os.path.exists(p) for p in staged)


def test_append_schema_mismatch_refused(spark, table):
    """Schema-on-write: an append whose frame differs from the committed
    schema by name or type must be refused (a drifted append would
    silently drop/null columns depending on which footer Spark samples);
    overwrite legitimately changes the schema."""
    from pyspark.sql import functions as _F

    table.commit(_df(spark, [(1, "a")]), mode="append")
    renamed = _df(spark, [(2, "b")]).withColumnRenamed("v", "w")
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit(renamed, mode="append")
    retyped = _df(spark, [(3, "c")]).withColumn(
        "k", _F.col("k").cast("string")
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit(retyped, mode="append")
    # same names+types with different nullability is NOT a mismatch
    table.commit(_df(spark, [(4, "d")]), mode="append")
    # overwrite changes the schema, and appends then follow the NEW one
    table.commit(renamed, mode="overwrite")
    table.commit(_df(spark, [(5, "e")]).withColumnRenamed("v", "w"), mode="append")
    assert set(table.read(spark).columns) == {"k", "w"}


def test_streaming_snapshot_sink_exactly_once(spark, table):
    """foreachBatch -> snapshot commits are exactly-once under replay: a
    re-delivered batchId publishes nothing (no new version, no duplicate
    rows), a NEW batchId after the replay still lands, and two apps'
    stamps don't collide."""
    from f1_bigdata_pyspark_spark.streaming.upsert_sink import (
        foreach_batch_snapshot_append,
    )

    sink = foreach_batch_snapshot_append(table, app_id="ingest-a")
    sink(_df(spark, [(1, "a"), (2, "b")]), 0)
    sink(_df(spark, [(3, "c")]), 1)
    assert table.read(spark).count() == 3
    v_before = table.latest_version()
    # checkpoint-recovery replay of epoch 1
    sink(_df(spark, [(3, "c")]), 1)
    assert table.latest_version() == v_before
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 2, 3]
    # progress resumes
    sink(_df(spark, [(4, "d")]), 2)
    assert table.read(spark).count() == 4
    # a different app's batch 1 is NOT deduped against ingest-a's
    other = foreach_batch_snapshot_append(table, app_id="ingest-b")
    other(_df(spark, [(9, "z")]), 1)
    assert table.read(spark).count() == 5
    assert table.last_committed_batch("ingest-a") == 2
    assert table.last_committed_batch("ingest-b") == 1


def test_incremental_view_maintenance_matches_recompute(spark, table):
    """IVM contract: folding each version's CDC diff into the maintained
    rollup reproduces EXACTLY the rollup recomputed from the latest
    snapshot — across inserts, updates (value and group-key changes),
    and deletes."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.operators.ivm import (
        apply_cdc_to_rollup,
        rollup_of,
    )
    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff
    from f1_bigdata_pyspark_spark.utils import materialize

    def kdf(rows):  # (id, grp, v)
        return spark.createDataFrame(rows, "id long, grp string, v long")

    v_rows = [
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],                 # v0
        [(1, "a", 15), (2, "a", 20), (3, "b", 30), (4, "b", 5)],    # v1: upd+ins
        [(1, "c", 15), (3, "b", 30), (4, "b", 7)],                  # v2: grp move,
                                                                    # del 2, upd 4
    ]
    for rows in v_rows:
        table.commit(kdf(rows), mode="overwrite")

    view = materialize(rollup_of(table.read(spark, version=0), ["grp"], "v"))
    for v in (1, 2):
        diff = snapshot_diff(spark, table, v - 1, v, ["id"])
        # group key lives in the payload: lift it out for the rollup key
        diff = diff.select(
            F.coalesce(
                F.col("new_row").getField("grp"), F.col("old_row").getField("grp")
            ).alias("grp"),
            "change_type",
            "old_row",
            "new_row",
        )
        # a group-key UPDATE is a delete from the old group + an insert
        # into the new one; split those rows before folding
        moved = diff.filter(
            (F.col("change_type") == "update")
            & (
                F.col("new_row").getField("grp")
                != F.col("old_row").getField("grp")
            )
        )
        stay = diff.join(moved, ["grp", "change_type", "old_row", "new_row"], "left_anti")
        as_del = moved.select(
            F.col("old_row").getField("grp").alias("grp"),
            F.lit("delete").alias("change_type"),
            "old_row",
            F.lit(None).cast(moved.schema["new_row"].dataType).alias("new_row"),
        )
        as_ins = moved.select(
            F.col("new_row").getField("grp").alias("grp"),
            F.lit("insert").alias("change_type"),
            F.lit(None).cast(moved.schema["old_row"].dataType).alias("old_row"),
            "new_row",
        )
        folded = stay.unionByName(as_del).unionByName(as_ins)
        view = materialize(apply_cdc_to_rollup(view, folded, ["grp"], "v"))
        want = {
            (r.grp): (r.n, r.s)
            for r in rollup_of(table.read(spark, version=v), ["grp"], "v").collect()
        }
        got = {(r.grp): (r.n, r.s) for r in view.collect()}
        assert got == want, (v, got, want)


# -- file-level column stats + data skipping --------------------------------


def _range_df(spark, lo, hi):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).cast("double").alias("v"),
            F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("name"),
        )
        .coalesce(1)
    )


def test_commit_records_minmax_stats(spark, table):
    table.commit(_range_df(spark, 0, 100), mode="append")
    m = table._read_manifest(0)
    assert len(m["files"]) == 1
    st = m["stats"][m["files"][0]]
    assert st["k"]["min"] == ["num", 0] and st["k"]["max"] == ["num", 99]
    assert st["v"]["max"] == ["num", 198.0]
    assert st["name"]["min"] == ["str", "u000000"]


def test_skipping_prunes_disjoint_files_and_answer_unchanged(spark, table):
    for lo in (0, 100, 200, 300):
        table.commit(_range_df(spark, lo, lo + 100), mode="append")
    rep = table.scan_stats(where=[("k", ">=", 250)])
    assert rep == {"n_files_total": 4, "n_files_scanned": 2}
    got = sorted(r.k for r in table.read(spark, where=[("k", ">=", 250)]).collect())
    assert got == list(range(250, 400))  # row-level filter still applied
    # conjunction prunes from both ends
    rep2 = table.scan_stats(where=[("k", ">=", 150), ("k", "<", 250)])
    assert rep2["n_files_scanned"] == 2
    got2 = sorted(
        r.k
        for r in table.read(
            spark, where=[("k", ">=", 150), ("k", "<", 250)]
        ).collect()
    )
    assert got2 == list(range(150, 250))


def test_skipping_on_strings_and_equality(spark, table):
    for lo in (0, 100):
        table.commit(_range_df(spark, lo, lo + 100), mode="append")
    assert table.scan_stats(where=[("name", "=", "u000150")])["n_files_scanned"] == 1
    assert table.read(spark, where=[("name", "=", "u000150")]).count() == 1
    # out-of-range equality scans nothing and returns empty, not an error
    assert table.scan_stats(where=[("k", "=", 999)])["n_files_scanned"] == 0
    assert table.read(spark, where=[("k", "=", 999)]).count() == 0


def test_skipping_unknown_column_is_safe(spark, table):
    table.commit(_range_df(spark, 0, 100), mode="append")
    # a column with no stats never prunes (and the filter still applies)
    m = table._read_manifest(0)
    m["stats"][m["files"][0]].pop("v")
    from f1_bigdata_pyspark_spark.sources.snapshots import prune_files

    assert prune_files(m, [("v", ">", 1e9)]) == m["files"]


def test_stats_survive_append_and_rollback(spark, table):
    table.commit(_range_df(spark, 0, 100), mode="append")
    table.commit(_range_df(spark, 100, 200), mode="append")
    table.rollback(0)
    rep = table.scan_stats(where=[("k", "<", 50)])
    assert rep == {"n_files_total": 1, "n_files_scanned": 1}


def test_skipping_timestamps(spark, table):
    from pyspark.sql import functions as F

    df = spark.range(0, 48).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("id").cast("int"))
        ).alias("ts"),
    )
    table.commit(df.filter("k < 24").coalesce(1), mode="append")
    table.commit(df.filter("k >= 24").coalesce(1), mode="append")
    import datetime

    cut = datetime.datetime(2024, 1, 2, 0, 0, 0)
    rep = table.scan_stats(where=[("ts", ">=", cut)])
    assert rep == {"n_files_total": 2, "n_files_scanned": 1}
    assert table.read(spark, where=[("ts", ">=", cut)]).count() == 24


def test_optimize_improves_skipping_and_preserves_rows(spark, table):
    """OPTIMIZE composes with data skipping: interleaved ingest commits
    smear the key range across every file (skipping prunes nothing);
    after the sorted rewrite each file owns a disjoint range and a point
    predicate scans ~1 file. Rows identical, history intact."""
    # four commits, each containing keys from the FULL range (k % 4 == i)
    from pyspark.sql import functions as F

    full = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).cast("double").alias("v")
    )
    for i in range(4):
        table.commit(full.filter(F.col("k") % 4 == i).coalesce(1), mode="append")
    before = table.scan_stats(where=[("k", ">=", 300)])
    assert before == {"n_files_total": 4, "n_files_scanned": 4}  # no pruning

    v_opt = table.optimize(spark, ["k"], target_files=4)
    after = table.scan_stats(version=v_opt, where=[("k", ">=", 300)])
    assert after["n_files_total"] == 4
    assert after["n_files_scanned"] <= 2  # disjoint ranges now prune

    got = sorted((r.k, r.v) for r in table.read(spark, version=v_opt).collect())
    want = sorted((r.k, r.v) for r in full.collect())
    assert got == want
    # pre-optimize versions still readable (time travel intact)
    assert table.read(spark, version=3).count() == 400


def test_zorder_optimize_prunes_on_both_dimensions(spark, table):
    """Lexicographic sort clusters only the leading key — predicates on
    the SECOND column prune nothing; the Morton-interleaved rewrite gives
    every file a compact range in both dimensions, so both predicate
    columns skip files. Rows identical either way."""
    from pyspark.sql import functions as F

    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    table.commit(grid, mode="append")

    v_lex = table.optimize(spark, ["a", "b"], target_files=16)
    lex_a = table.scan_stats(version=v_lex, where=[("a", "<", 4)])
    lex_b = table.scan_stats(version=v_lex, where=[("b", "<", 4)])
    assert lex_a["n_files_scanned"] <= 2      # leading key clusters
    assert lex_b["n_files_scanned"] == 16     # second key doesn't

    v_z = table.optimize(spark, ["a", "b"], target_files=16, zorder=True)
    z_a = table.scan_stats(version=v_z, where=[("a", "<", 4)])
    z_b = table.scan_stats(version=v_z, where=[("b", "<", 4)])
    assert z_a["n_files_scanned"] < 16        # both dimensions skip now
    assert z_b["n_files_scanned"] < 16
    assert z_b["n_files_scanned"] <= 8        # and meaningfully so

    got = sorted(
        (r.a, r.b, r.v) for r in table.read(spark, version=v_z).collect()
    )
    want = sorted((r.a, r.b, r.v) for r in grid.collect())
    assert got == want


def test_prune_soundness_property():
    """Property (hypothesis): pruning NEVER drops a file whose [min, max]
    interval contains a value satisfying the predicate — soundness is the
    one invariant data skipping must never lose (completeness is just
    performance). Pure-python check over the pruner itself."""
    from hypothesis import given, strategies as st

    from f1_bigdata_pyspark_spark.sources.snapshots import _file_may_match

    ops = st.sampled_from(["=", "<", "<=", ">", ">="])
    vals = st.integers(min_value=-1000, max_value=1000)

    @given(lo=vals, hi=vals, lit=vals, op=ops, probe=vals)
    def check(lo, hi, lit, op, probe):
        mn, mx = min(lo, hi), max(lo, hi)
        stats = {"c": {"min": ["num", mn], "max": ["num", mx]}}
        may = _file_may_match(stats, "c", op, lit)
        if mn <= probe <= mx:  # probe is a value the file COULD contain
            satisfied = {
                "=": probe == lit,
                "<": probe < lit,
                "<=": probe <= lit,
                ">": probe > lit,
                ">=": probe >= lit,
            }[op]
            if satisfied:
                assert may, (mn, mx, op, lit, probe)

    check()


def test_nan_float_stats_never_poison_pruning(spark, table):
    """A NaN min/max would make every comparison False and UNSOUNDLY skip
    the file; the stats collector must refuse to index such a column, and
    reads must then keep the file."""
    import math

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, 7.0)], "k long, x double"
    ).coalesce(1)
    table.commit(df, mode="append")
    m = table._read_manifest(0)
    st = m["stats"][m["files"][0]]
    # either the writer omitted NaN stats or we refused them — never
    # indexed (a null-count-only entry without min/max is fine: nc/nr
    # can't poison comparisons)
    if "x" in st and "min" in st["x"]:
        assert not math.isnan(st["x"]["min"][1])
        assert not math.isnan(st["x"]["max"][1])
    rep = table.scan_stats(where=[("x", "<", 6.0)])
    assert rep["n_files_scanned"] == 1  # file kept
    got = [r.k for r in table.read(spark, where=[("x", "<", 6.0)]).collect()]
    assert got == [2]


# -- partitioned commits (directory pruning + footer stats on ONE scan) ----


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, y long")


def test_partitioned_commit_round_trip(spark, table):
    """partition_by commits write Hive-style col=value dirs; read() must
    recover the partition column (it lives in the path, not the file) and
    return the COMMITTED schema order/types, across multiple commits."""
    table.commit(
        _pdf(spark, [(1, "a", 2000), (2, "b", 2001)]).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    table.commit(
        _pdf(spark, [(3, "c", 2000)]).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    got = table.read(spark)
    assert got.columns == ["k", "v", "y"]  # committed order, y recovered
    assert dict(got.dtypes)["y"] == "bigint"  # committed TYPE, not inferred
    rows = sorted((r.k, r.v, r.y) for r in got.collect())
    assert rows == [(1, "a", 2000), (2, "b", 2001), (3, "c", 2000)]
    # files actually landed under y=... dirs
    m = table._read_manifest(1)
    assert all("y=" in f for f in m["files"])
    assert m["partition_by"] == ["y"]


def test_partition_and_stats_pruning_compose_on_one_scan(spark, table):
    """The round-5 gap: directory partitioning and footer-stats skipping
    existed on separate storage paths. One read(where=) must now fire
    BOTH tiers: the y=2000 predicate drops the other partition's files
    (directory tier), k>=10 drops the low-range file (stats tier)."""
    table.commit(  # files: y=2000 (k 0..9), y=2001 (k 0..9)
        _pdf(
            spark,
            [(i, "x", 2000) for i in range(10)]
            + [(i, "x", 2001) for i in range(10)],
        ).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    table.commit(  # files: y=2000 (k 10..19), y=2001 (k 10..19)
        _pdf(
            spark,
            [(i, "x", 2000) for i in range(10, 20)]
            + [(i, "x", 2001) for i in range(10, 20)],
        ).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    where = [("y", "=", 2000), ("k", ">=", 10)]
    rep = table.scan_stats(where=where)
    assert rep == {"n_files_total": 4, "n_files_scanned": 1}
    got = sorted(r.k for r in table.read(spark, where=where).collect())
    assert got == list(range(10, 20))


def test_prune_in_op_keeps_only_member_files(spark, table):
    """('col','in',[...]) prunes to files whose [min,max] could contain
    ANY member — the probed-cell scan shape of an IVF index read."""
    for lo in (0, 10, 20):
        table.commit(
            _pdf(spark, [(k, "x", 1) for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    rep = table.scan_stats(where=[("k", "in", [5, 25])])
    assert rep == {"n_files_total": 3, "n_files_scanned": 2}
    got = sorted(r.k for r in table.read(spark, where=[("k", "in", [5, 25])]).collect())
    assert got == [5, 25]


def test_partitioned_append_mismatch_refused(spark, table):
    table.commit(
        _pdf(spark, [(1, "a", 2000)]).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    with pytest.raises(ValueError, match="partition_by"):
        table.commit(_pdf(spark, [(2, "b", 2001)]).coalesce(1), mode="append")
    with pytest.raises(ValueError, match="partition_by"):
        table.commit(
            _pdf(spark, [(2, "b", 2001)]).coalesce(1),
            mode="append",
            partition_by=["v"],
        )
    # overwrite may legally re-partition
    table.commit(
        _pdf(spark, [(9, "z", 2002)]).coalesce(1), mode="overwrite"
    )
    assert table.read(spark).count() == 1


def test_null_partition_value_round_trips_and_prunes_soundly(spark, table):
    df = spark.createDataFrame(
        [(1, "a", 2000), (2, "b", None)], "k long, v string, y long"
    ).coalesce(1)
    table.commit(df, mode="append", partition_by=["y"])
    rows = sorted(
        (r.k, r.y) for r in table.read(spark).collect()
    )
    assert rows == [(1, 2000), (2, None)]
    # the NULL-partition file IS pruned by comparisons since round 7's
    # null evidence (NULL satisfies no comparison — an exact proof)…
    rep = table.scan_stats(where=[("y", "=", 1999)])
    assert rep["n_files_scanned"] == 0
    assert table.read(spark, where=[("y", "=", 1999)]).count() == 0
    # …while IS NULL keeps exactly it, and the value file prunes
    rep = table.scan_stats(where=[("y", "is_null", None)])
    assert rep["n_files_scanned"] == 1
    assert [r.k for r in table.read(spark, where=[("y", "is_null", None)]).collect()] == [2]


def test_partitioned_rollback_and_change_feed(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import read_changes_since

    table.commit(
        _pdf(spark, [(1, "a", 2000)]).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    table.commit(
        _pdf(spark, [(2, "b", 2001)]).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    delta, cur = read_changes_since(spark, table, 0)
    assert cur == 1
    assert [(r.k, r.y) for r in delta.collect()] == [(2, 2001)]
    v = table.rollback(0)
    m = table._read_manifest(v)
    assert m["partition_by"] == ["y"]  # partition metadata survives rollback
    assert [r.k for r in table.read(spark).collect()] == [1]


# -- copy-on-write MERGE ---------------------------------------------------


def test_cow_merge_rewrites_only_touched_files(spark, table):
    """The lakehouse DML gap (round-5 verdict #3): MERGE routed through a
    snapshot commit must rewrite ONLY files containing matched keys —
    untouched files survive by IDENTITY (same path, same stats) — and the
    CDC diff across the merge version equals the merge delta."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff

    for lo in (0, 10, 20):  # 3 disjoint key-range files
        table.commit(
            _df(spark, [(k, f"v{k}") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    v0 = table.latest_version()
    m0 = table._read_manifest(v0)
    source = spark.createDataFrame(
        [(5, "U", "upd5"), (7, "D", None), (100, "I", "new100")],
        "k long, op string, nv string",
    )
    rep = table.merge(
        spark,
        source,
        ["k"],
        matched_delete=F.col("op") == "D",
        matched_update={"v": F.col("nv")},
        update_condition=F.col("op") == "U",
        not_matched_insert={"v": F.col("nv")},
    )
    assert rep["files_rewritten"] == 1
    assert rep["files_carried"] == 2
    m1 = table._read_manifest(rep["version"])
    carried = sorted(set(m0["files"]) & set(m1["files"]))
    assert len(carried) == 2  # identity, not re-written copies
    for f in carried:
        assert m1["stats"][f] == m0["stats"][f]  # stats carried intact
    rows = {r.k: r.v for r in table.read(spark).collect()}
    assert rows[5] == "upd5"
    assert 7 not in rows
    assert rows[100] == "new100"
    assert len(rows) == 30  # 30 - 1 delete + 1 insert
    # pre-merge snapshot still reads (time travel across DML)
    assert table.read(spark, version=v0).count() == 30
    # CDC across the merge == the merge delta, nothing else
    diff = snapshot_diff(spark, table, v0, rep["version"], ["k"])
    got = {(r.k, r.change_type) for r in diff.collect()}
    assert got == {(5, "update"), (7, "delete"), (100, "insert")}


def test_cow_merge_insert_only_touches_nothing(spark, table):
    from pyspark.sql import functions as F

    for lo in (0, 10):
        table.commit(
            _df(spark, [(k, "x") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    source = spark.createDataFrame([(50, "new")], "k long, nv string")
    rep = table.merge(
        spark, source, ["k"], not_matched_insert={"v": F.col("nv")}
    )
    assert rep["files_rewritten"] == 0
    assert rep["files_carried"] == 2
    rows = {r.k: r.v for r in table.read(spark).collect()}
    assert rows[50] == "new" and len(rows) == 21


def test_cow_merge_on_partitioned_table_preserves_layout(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        _pdf(
            spark,
            [(1, "a", 2000), (2, "b", 2000), (3, "c", 2001)],
        ).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    source = spark.createDataFrame([(2, "B2")], "k long, nv string")
    rep = table.merge(
        spark,
        source,
        ["k"],
        matched_update={"v": F.col("nv")},
    )
    assert rep["files_rewritten"] == 1  # only the y=2000 file
    assert rep["files_carried"] == 1
    m = table._read_manifest(rep["version"])
    assert m["partition_by"] == ["y"]  # layout preserved through DML
    assert all("y=" in f for f in m["files"])
    rows = sorted((r.k, r.v, r.y) for r in table.read(spark).collect())
    assert rows == [(1, "a", 2000), (2, "B2", 2000), (3, "c", 2001)]


# -- incremental OPTIMIZE --------------------------------------------------


def test_optimize_incremental_carries_large_files_by_identity(spark, table):
    """Round-5 verdict #3 follow-on: a full rewrite per OPTIMIZE is not
    runnable at 100 TB — only under-sized files may be compacted; every
    adequately-sized file must survive with the SAME path and the SAME
    manifest stats (zero I/O on the bulk of the table)."""
    big = _df(spark, [(k, "x" * 50) for k in range(20000)]).coalesce(1)
    table.commit(big, mode="append")
    for lo in (0, 10, 20):  # 3 tiny ingest files
        table.commit(
            _df(spark, [(k, "y") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    v0 = table.latest_version()
    m0 = table._read_manifest(v0)
    import os as _os

    big_files = [f for f in m0["files"] if _os.path.getsize(f) >= 50_000]
    assert len(big_files) == 1  # fixture sanity: one large, three small
    rep = table.optimize_incremental(spark, small_file_max_bytes=50_000)
    assert rep["files_compacted"] == 3
    assert rep["files_carried"] == 1
    m1 = table._read_manifest(rep["version"])
    assert big_files[0] in m1["files"]  # identity, not a rewritten copy
    assert m1["stats"][big_files[0]] == m0["stats"][big_files[0]]
    assert table.read(spark).count() == 20030  # rows conserved
    # history intact: the pre-compaction version still reads
    assert table.read(spark, version=v0).count() == 20030


def test_optimize_incremental_noop_below_two_small_files(spark, table):
    table.commit(_df(spark, [(1, "a")] * 1).coalesce(1), mode="append")
    v = table.latest_version()
    rep = table.optimize_incremental(spark, small_file_max_bytes=10)
    assert rep == {
        "version": v,
        "files_compacted": 0,
        "files_carried": 1,
        "files_written": 0,
    }
    assert table.latest_version() == v  # nothing published


def test_optimize_incremental_sorted_compaction_restores_skipping(spark, table):
    """sort_cols range-clusters the compacted rows so the NEW files get
    tight min/max — a key-range predicate prunes again after compaction."""
    # 4 tiny files, each smeared across the FULL key range (no pruning)
    for i in range(4):
        table.commit(
            _df(spark, [(k, "z") for k in range(0, 40, 4)]).coalesce(1),
            mode="append",
        )
    before = table.scan_stats(where=[("k", ">=", 30)])
    assert before["n_files_scanned"] == 4  # smeared: nothing prunes
    rep = table.optimize_incremental(
        spark, small_file_max_bytes=50_000, target_file_bytes=1_000,
        sort_cols=["k"],
    )
    assert rep["files_compacted"] == 4 and rep["files_written"] >= 2
    after = table.scan_stats(where=[("k", ">=", 30)])
    assert after["n_files_scanned"] < after["n_files_total"]
    got = sorted(r.k for r in table.read(spark, where=[("k", ">=", 30)]).collect())
    assert got == sorted([k for k in range(0, 40, 4) if k >= 30] * 4)


def test_gdpr_erasure_merge_then_vacuum_removes_bytes(spark, table):
    """Right-to-be-forgotten through the lakehouse stack: a delete-only
    CoW merge removes the subject's rows from the live version, and after
    the retention window a vacuum physically deletes every file that held
    them — the remaining files must not contain the subject's key, and
    the erased rows must be gone from DISK, not just the manifest."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    for lo in (0, 10):
        table.commit(
            _df(spark, [(k, f"v{k}") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    subject = spark.createDataFrame([(3,), (7,)], "k long")
    rep = table.merge(
        spark, subject, ["k"], matched_delete=F.lit(True)
    )
    assert rep["files_rewritten"] == 1  # only the 0-9 file held the subject
    live = {r.k for r in table.read(spark).collect()}
    assert 3 not in live and 7 not in live and len(live) == 18
    # pre-merge version still exposes the data (retention window)...
    assert 3 in {r.k for r in table.read(spark, version=1).collect()}
    # ...until vacuum expires it; then NO file on disk carries the key.
    # keep_change_data=False (round 11): the merge's own CHANGE DATA
    # images hold the subject's deleted rows — compliance erasure must
    # reclaim those too, not just the old data files
    vacuum(table, keep_versions=1, grace_seconds=0, keep_change_data=False)
    with __import__("pytest").raises(FileNotFoundError):
        table.read(spark, version=1)
    on_disk = set()
    m = table._read_manifest(table.latest_version())
    import os as _os

    for dirpath, _, files in _os.walk(table.data_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = _os.path.join(dirpath, f)
                assert p in m["files"]  # nothing unreferenced survives
                on_disk.update(
                    pq.read_table(p, columns=["k"])["k"].to_pylist()
                )
    assert 3 not in on_disk and 7 not in on_disk


# -- additive schema evolution + timestamp time travel ---------------------


def test_merge_schema_append_widens_and_nullfills(spark, table):
    """Delta's mergeSchema contract: an appended frame may ADD trailing
    columns (old files read them as NULL) or OMIT them (its rows read
    NULL); any non-prefix change still refuses."""
    table.commit(_df(spark, [(1, "a")]), mode="append")
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        table.commit(wide, mode="append")
    table.commit(wide, mode="append", merge_schema=True)
    got = {r.k: (r.v, r.score) for r in table.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    assert table.read(spark).columns == ["k", "v", "score"]
    # an old-schema writer can still append after evolution
    table.commit(_df(spark, [(3, "c")]), mode="append", merge_schema=True)
    got = {r.k: r.score for r in table.read(spark).collect()}
    assert got == {1: None, 2: 9.5, 3: None}
    # pruning still sound across mixed schemas: score stats exist only
    # for the wide file; others are never skipped on that column
    rows = table.read(spark, where=[("score", ">=", 5.0)]).collect()
    assert [(r.k, r.score) for r in rows] == [(2, 9.5)]
    # non-prefix change (renamed column) refuses even with merge_schema
    bad = spark.createDataFrame([(4, "d")], "k long, w string")
    with pytest.raises(ValueError):
        table.commit(bad, mode="append", merge_schema=True)


def test_merge_schema_survives_merge_and_compaction(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")
    table.commit(
        spark.createDataFrame([(3, "c", 1.5)], "k long, v string, s double")
        .coalesce(1),
        mode="append",
        merge_schema=True,
    )
    src = spark.createDataFrame([(2, "B")], "k long, nv string")
    rep = table.merge(spark, src, ["k"], matched_update={"v": F.col("nv")})
    got = {r.k: (r.v, r.s) for r in table.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("B", None), 3: ("c", 1.5)}
    rep2 = table.optimize_incremental(spark, small_file_max_bytes=10_000_000)
    got2 = {r.k: (r.v, r.s) for r in table.read(spark).collect()}
    assert got2 == got


def test_timestamp_time_travel(spark, table):
    import time

    table.commit(_df(spark, [(1, "a")]), mode="append")
    t0 = time.time()
    time.sleep(0.05)
    table.commit(_df(spark, [(2, "b")]), mode="append")
    assert table.version_as_of(t0) == 0
    assert sorted(r.k for r in table.read(spark, as_of=t0).collect()) == [1]
    assert sorted(
        r.k for r in table.read(spark, as_of=time.time()).collect()
    ) == [1, 2]
    with pytest.raises(FileNotFoundError):
        table.version_as_of(0.0)  # before the table existed
    with pytest.raises(ValueError):
        table.read(spark, version=0, as_of=t0)


# -- merge-on-read DELETE (deletion vectors / equality deletes) -------------


def test_delete_keys_merge_on_read_no_rewrite(spark, table):
    """delete_keys must not rewrite ANY data file (O(changeset) DELETE):
    the tombstone applies at read time, history still shows the rows."""
    for lo in (0, 10, 20):
        table.commit(
            _df(spark, [(k, f"v{k}") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    v0 = table.latest_version()
    files_before = table._read_manifest(v0)["files"]
    rep = table.delete_keys(
        spark, spark.createDataFrame([(5,), (25,)], "k long"), ["k"]
    )
    assert rep["n_tombstoned"] == 2
    m = table._read_manifest(rep["version"])
    assert m["files"] == files_before  # zero rewrite
    live = {r.k for r in table.read(spark).collect()}
    assert 5 not in live and 25 not in live and len(live) == 28
    # pre-delete version unaffected (time travel across the delete)
    assert 5 in {r.k for r in table.read(spark, version=v0).collect()}
    # stats pruning still composes: the tombstoned row never comes back
    got = {r.k for r in table.read(spark, where=[("k", "<", 10)]).collect()}
    assert got == set(range(10)) - {5}


def test_delete_then_reinsert_is_visible(spark, table):
    """Sequence scoping (Iceberg v2 equality-delete contract): a tombstone
    applies only to files committed BEFORE it — a later append may
    legitimately re-insert the key."""
    table.commit(_df(spark, [(1, "old"), (2, "x")]).coalesce(1), mode="append")
    table.delete_keys(spark, spark.createDataFrame([(1,)], "k long"), ["k"])
    assert {r.k for r in table.read(spark).collect()} == {2}
    table.commit(_df(spark, [(1, "new")]).coalesce(1), mode="append")
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: "new", 2: "x"}  # resurrection is INTENTIONAL here


def test_optimize_materializes_tombstones(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import read_changes_since

    table.commit(
        _df(spark, [(k, "x") for k in range(20)]).coalesce(1), mode="append"
    )
    table.delete_keys(
        spark, spark.createDataFrame([(3,), (7,)], "k long"), ["k"]
    )
    # the change feed refuses to cross a delete (re-sync contract)
    with pytest.raises(ValueError):
        read_changes_since(spark, table, 0)
    v = table.optimize(spark, ["k"], target_files=1)
    m = table._read_manifest(v)
    assert "tombstones" not in m  # materialized away
    assert table.read(spark, version=v).count() == 18
    # physically gone from the rewritten file
    import pyarrow.parquet as pq

    on_disk = pq.read_table(m["files"][0], columns=["k"])["k"].to_pylist()
    assert 3 not in on_disk and 7 not in on_disk


def test_merge_after_delete_does_not_resurrect(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), mode="append"
    )
    table.delete_keys(spark, spark.createDataFrame([(2,)], "k long"), ["k"])
    # update source touching the DELETED key: it is not matched (row is
    # dead), and with no insert clause it must be ignored
    rep = table.merge(
        spark,
        spark.createDataFrame([(2, "ZOMBIE"), (3, "C2")], "k long, nv string"),
        ["k"],
        matched_update={"v": F.col("nv")},
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: "a", 3: "C2"}  # 2 stays dead


def test_vacuum_spares_live_tombstones(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")
    table.delete_keys(spark, spark.createDataFrame([(1,)], "k long"), ["k"])
    table.commit(_df(spark, [(3, "c")]).coalesce(1), mode="append")
    vacuum(table, keep_versions=2, grace_seconds=0)
    # the tombstone file survived (still referenced by live manifests)
    assert {r.k for r in table.read(spark).collect()} == {2, 3}


def test_incremental_compaction_respects_tombstones(spark, table):
    for lo in (0, 10):
        table.commit(
            _df(spark, [(k, "x") for k in range(lo, lo + 10)]).coalesce(1),
            mode="append",
        )
    table.delete_keys(spark, spark.createDataFrame([(4,)], "k long"), ["k"])
    rep = table.optimize_incremental(spark, small_file_max_bytes=10_000_000)
    assert rep["files_compacted"] == 2
    # deleted row must NOT materialize into the compacted file
    assert {r.k for r in table.read(spark).collect()} == set(range(20)) - {4}


def test_cow_merge_multi_commit_partitioned_probe(spark, table):
    """Regression: the find-touched probe must attach input_file_name ON
    each scan group (it refuses multi-source plans), so a merge over a
    MULTI-commit partitioned table plans cleanly."""
    from pyspark.sql import functions as F

    for batch in ([(1, "a", 2000), (2, "b", 2001)], [(3, "c", 2000)]):
        table.commit(
            _pdf(spark, batch).coalesce(1), mode="append", partition_by=["y"]
        )
    rep = table.merge(
        spark,
        spark.createDataFrame([(3, "C3")], "k long, nv string"),
        ["k"],
        matched_update={"v": F.col("nv")},
    )
    assert rep["files_rewritten"] == 1  # only commit 2's y=2000 file
    assert rep["files_carried"] == 2
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, "a"), (2, "b"), (3, "C3")]


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path, table):
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotTable,
        vacuum,
    )

    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")
    clone = SnapshotTable(str(tmp_path / "clone"))
    clone.clone_from(table)
    # zero copy: the clone references the SOURCE's files
    assert clone._read_manifest(0)["files"] == table._read_manifest(0)["files"]
    assert {r.k for r in clone.read(spark).collect()} == {1, 2}
    # independent evolution: clone appends don't touch the source
    clone.commit(_df(spark, [(3, "c")]).coalesce(1), mode="append")
    assert clone.read(spark).count() == 3
    assert table.read(spark).count() == 2
    # vacuuming the clone can NEVER destroy source files (walks only its
    # own data_dir)
    clone.commit(_df(spark, [(9, "z")]).coalesce(1), mode="overwrite")
    vacuum(clone, keep_versions=1, grace_seconds=0)
    assert table.read(spark).count() == 2  # source intact
    with pytest.raises(ValueError):
        clone.clone_from(table)  # non-empty target refuses


def test_tombstone_model_property(spark, table):
    """Model-based soundness for the sequence-scoped tombstone semantics:
    replay a fixed mixed script of appends / deletes / re-inserts against
    a plain multiset model (delete removes every CURRENT row with the
    key; later appends revive). The table must match the model after
    every operation AND after a final incremental compaction."""
    model: list[tuple[int, str]] = []
    script = [
        ("append", [(1, "a1"), (2, "b1"), (2, "b2")]),
        ("delete", [2]),
        ("append", [(2, "b3"), (3, "c1")]),
        ("delete", [1, 3]),
        ("append", [(1, "a2")]),
        ("delete", [99]),           # no-op key
        ("append", [(4, "d1"), (4, "d2")]),
        ("delete", [4, 2]),
    ]
    for op, payload in script:
        if op == "append":
            table.commit(_df(spark, payload).coalesce(1), mode="append")
            model.extend(payload)
        else:
            table.delete_keys(
                spark,
                spark.createDataFrame([(k,) for k in payload], "k long"),
                ["k"],
            )
            model = [(k, v) for k, v in model if k not in set(payload)]
        got = sorted((r.k, r.v) for r in table.read(spark).collect())
        assert got == sorted(model), (op, payload)
    table.optimize_incremental(spark, small_file_max_bytes=10_000_000)
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == sorted(model)


def test_optimize_preserves_partition_layout(spark, table):
    table.commit(
        _pdf(
            spark,
            [(k, "x", 2000 + (k % 2)) for k in range(20)],
        ).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    table.commit(
        _pdf(
            spark,
            [(k, "x", 2000 + (k % 2)) for k in range(20, 40)],
        ).coalesce(1),
        mode="append",
        partition_by=["y"],
    )
    v = table.optimize(spark, ["k"], target_files=2)
    m = table._read_manifest(v)
    assert m["partition_by"] == ["y"]  # layout survives full OPTIMIZE
    assert all("y=" in f for f in m["files"])
    # directory pruning still fires on the compacted layout
    rep = table.scan_stats(version=v, where=[("y", "=", 2000)])
    assert rep["n_files_scanned"] < rep["n_files_total"]
    got = sorted(r.k for r in table.read(spark, where=[("y", "=", 2000)]).collect())
    assert got == [k for k in range(40) if k % 2 == 0]


def test_merge_optimistic_check(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, [(1, "a")]).coalesce(1), mode="append")
    table.commit(_df(spark, [(2, "b")]).coalesce(1), mode="append")
    with pytest.raises(SnapshotConflictError):
        table.merge(
            spark,
            spark.createDataFrame([(1, "A")], "k long, nv string"),
            ["k"],
            matched_update={"v": F.col("nv")},
            expected_base_version=0,  # stale read
        )
    rep = table.merge(
        spark,
        spark.createDataFrame([(1, "A")], "k long, nv string"),
        ["k"],
        matched_update={"v": F.col("nv")},
        expected_base_version=1,
    )
    assert {r.k: r.v for r in table.read(spark).collect()} == {1: "A", 2: "b"}


def test_prune_in_op_soundness_property():
    """Property (hypothesis): the round-6 'in' prune op never drops a
    file whose [min, max] could contain ANY list member — the probed-cell
    index scan must be exactly as sound as the scalar ops."""
    from hypothesis import given, strategies as st

    from f1_bigdata_pyspark_spark.sources.snapshots import _file_may_match

    vals = st.integers(min_value=-1000, max_value=1000)

    @given(
        lo=vals,
        hi=vals,
        members=st.lists(vals, min_size=1, max_size=8),
        probe=vals,
    )
    def check(lo, hi, members, probe):
        mn, mx = min(lo, hi), max(lo, hi)
        stats = {"c": {"min": ["num", mn], "max": ["num", mx]}}
        may = _file_may_match(stats, "c", "in", members)
        if mn <= probe <= mx and probe in members:
            assert may, (mn, mx, members, probe)
        # completeness too (exactness for point stats): if NO member is
        # inside [mn, mx], the file must be skipped
        if not any(mn <= m <= mx for m in members):
            assert not may, (mn, mx, members)

    check()


# -- round-7 advice fixes ----------------------------------------------------


def test_rollback_is_timestamped_for_time_travel(spark, table):
    """A rollback manifest must carry committed_at like every other
    publish: unstamped, version_as_of treated it as older than ANY
    timestamp and silently resolved the rollback version for every ts
    (version_as_of(t0) returned the rollback instead of v0)."""
    import time

    table.commit(_df(spark, [(1, "a")]), mode="append")
    t0 = time.time()
    time.sleep(0.05)
    table.commit(_df(spark, [(2, "b")]), mode="append")
    time.sleep(0.05)
    v_rb = table.rollback(0)
    assert table._read_manifest(v_rb).get("committed_at", 0) >= t0
    assert table.version_as_of(t0) == 0  # NOT the rollback version
    assert table.version_as_of(time.time()) == v_rb
    with pytest.raises(FileNotFoundError):
        table.version_as_of(0.0)  # still raises pre-table


def test_clone_of_partitioned_table_reads_and_prunes(spark, tmp_path, table):
    """A shallow clone references the SOURCE's data files; scan grouping
    must derive each file's commit root from the file's OWN path (the
    old relpath-vs-own-data_dir logic produced 'Wrong basePath' on a
    partitioned clone)."""
    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "x", 30)], "k long, p string, v long"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    clone = SnapshotTable(str(tmp_path / "pclone"))
    clone.clone_from(table)
    got = {(r.k, r.p, r.v) for r in clone.read(spark).collect()}
    assert got == {(1, "x", 10), (2, "y", 20), (3, "x", 30)}
    # partition point-stats still prune through the clone's manifest
    st = clone.scan_stats(where=[("p", "=", "x")])
    assert st["n_files_scanned"] < st["n_files_total"]
    assert {r.k for r in clone.read(spark, where=[("p", "=", "x")]).collect()} == {1, 3}


def test_clone_of_evolved_table_keeps_evolved_columns(spark, tmp_path, table):
    """Clone of a schema-evolved source: per-commit scan groups must not
    collapse (collapsing NULLed the evolved column for every row)."""
    table.commit(_df(spark, [(1, "a")]).coalesce(1), mode="append")
    wide = spark.createDataFrame([(2, "b", 99)], "k long, v string, extra long")
    table.commit(wide.coalesce(1), mode="append", merge_schema=True)
    clone = SnapshotTable(str(tmp_path / "eclone"))
    clone.clone_from(table)
    rows = {(r.k, r.v, r.extra) for r in clone.read(spark).collect()}
    assert rows == {(1, "a", None), (2, "b", 99)}


def test_delete_and_clone_do_not_carry_txn_stamp(spark, tmp_path, table):
    """Manifests derived from a prior one (delete_keys, clone_from) must
    strip the 'txn' stamp — it certifies the ORIGINAL version's streaming
    batch; carried, a clone reports the source writer's batch and an
    exactly-once writer reusing that app_id silently skips epochs."""
    table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="append", txn=("app", 5))
    assert table.last_committed_batch("app") == 5
    table.delete_keys(spark, _df(spark, [(1, "a")]).select("k"), ["k"])
    assert "txn" not in table._read_manifest(1)
    clone = SnapshotTable(str(tmp_path / "txnclone"))
    # clone from the pre-delete version state: rebuild a clean source
    src2 = SnapshotTable(str(tmp_path / "src2"))
    src2.commit(_df(spark, [(7, "q")]), mode="append", txn=("app", 9))
    clone.clone_from(src2)
    assert "txn" not in clone._read_manifest(0)
    assert clone.last_committed_batch("app") is None
    assert src2.last_committed_batch("app") == 9


# -- round-7: null-count skipping stats --------------------------------------


def test_null_stats_prune_null_predicates(spark, table):
    """Per-file null counts (nc/nr in the manifest stats) let IS NULL skip
    no-null files and IS NOT NULL skip all-null files; mixed files always
    survive both. Comparison ops additionally skip all-null files (NULL
    satisfies no comparison)."""
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v string"
    )
    nonull = spark.createDataFrame([(3, "x"), (4, "y")], "k long, v string")
    mixed = spark.createDataFrame([(5, None), (6, "z")], "k long, v string")
    for df in (allnull, nonull, mixed):
        table.commit(df.coalesce(1), mode="append")
    assert table.scan_stats()["n_files_total"] == 3
    # IS NOT NULL skips exactly the all-null file
    st = table.scan_stats(where=[("v", "is_not_null", None)])
    assert st["n_files_scanned"] == 2
    got = {r.k for r in table.read(spark, where=[("v", "is_not_null", None)]).collect()}
    assert got == {3, 4, 6}
    # IS NULL skips exactly the no-null file
    st = table.scan_stats(where=[("v", "is_null", None)])
    assert st["n_files_scanned"] == 2
    got = {r.k for r in table.read(spark, where=[("v", "is_null", None)]).collect()}
    assert got == {1, 2, 5}
    # a comparison on v also skips the all-null file (no row can match)
    st = table.scan_stats(where=[("v", "=", "x")])
    assert st["n_files_scanned"] <= 2
    got = {r.k for r in table.read(spark, where=[("v", "=", "x")]).collect()}
    assert got == {3}


def test_null_stats_partition_point_evidence(spark, table):
    """Partition point stats imply null evidence: a value partition is
    null-free (IS NULL skips it); the __HIVE_DEFAULT_PARTITION__ file is
    all-null (IS NOT NULL and comparisons skip it)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k long, p string"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    assert table.scan_stats()["n_files_total"] == 3
    st = table.scan_stats(where=[("p", "is_null", None)])
    assert st["n_files_scanned"] == 1
    assert {r.k for r in table.read(spark, where=[("p", "is_null", None)]).collect()} == {2}
    st = table.scan_stats(where=[("p", "is_not_null", None)])
    assert st["n_files_scanned"] == 2
    assert {r.k for r in table.read(spark, where=[("p", "is_not_null", None)]).collect()} == {1, 3}
    # equality on p skips the NULL partition AND the non-matching value
    st = table.scan_stats(where=[("p", "=", "a")])
    assert st["n_files_scanned"] == 1


def test_null_prune_soundness_property():
    """Property (hypothesis): null-stat pruning never skips a file that
    contains a satisfying row, and is EXACT for the null ops (a file
    whose nc/nr proves emptiness is always skipped)."""
    from hypothesis import given, strategies as st

    from f1_bigdata_pyspark_spark.sources.snapshots import _file_may_match

    rows = st.lists(
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        min_size=0,
        max_size=12,
    )

    @given(vals=rows, lit=st.integers(min_value=-50, max_value=50))
    def check(vals, lit):
        nonnull = [v for v in vals if v is not None]
        ev = {"nc": len(vals) - len(nonnull), "nr": len(vals)}
        if nonnull:
            ev["min"] = ["num", min(nonnull)]
            ev["max"] = ["num", max(nonnull)]
        stats = {"c": ev}
        # soundness: any op with a satisfying row keeps the file
        if any(v is None for v in vals):
            assert _file_may_match(stats, "c", "is_null", None)
        if nonnull:
            assert _file_may_match(stats, "c", "is_not_null", None)
        for op, pred in (
            ("=", lambda v: v == lit),
            ("<", lambda v: v < lit),
            ("<=", lambda v: v <= lit),
            (">", lambda v: v > lit),
            (">=", lambda v: v >= lit),
        ):
            if any(pred(v) for v in nonnull):
                assert _file_may_match(stats, "c", op, lit), (op, vals, lit)
        # exactness of the null ops under complete nc/nr
        if not any(v is None for v in vals) and vals:
            assert not _file_may_match(stats, "c", "is_null", None)
        if vals and not nonnull:
            assert not _file_may_match(stats, "c", "is_not_null", None)
            assert not _file_may_match(stats, "c", "=", lit)

    check()


# -- round-7: concurrent-writer commit protocol (retry/rebase) ---------------


def test_append_rebase_lands_both_writers(spark, table):
    """Two interleaved appenders: writer A reads the head, writer B
    commits first (injected via the _before_publish seam), A's publish
    loses the version race — with on_conflict='rebase' A re-reads the
    head and republishes its ALREADY-WRITTEN files as head+1. Both file
    sets are live; zero data I/O repeated."""
    table.commit(_df(spark, [(1, "a")]), mode="append")
    v = table.commit(
        _df(spark, [(3, "c")]),
        mode="append",
        on_conflict="rebase",
        _before_publish=lambda: table.commit(
            _df(spark, [(2, "b")]), mode="append"
        ),
    )
    assert v == 2  # rebased past B's v1
    assert {r.k for r in table.read(spark).collect()} == {1, 2, 3}
    assert [h["mode"] for h in table.history()] == ["append"] * 3
    # CDC across the rebased history: consuming from v0 yields B's and
    # A's rows exactly once
    from f1_bigdata_pyspark_spark.sources.snapshots import read_changes_since

    delta, cursor = read_changes_since(spark, table, 0)
    assert cursor == 2
    assert sorted(r.k for r in delta.collect()) == [2, 3]


def test_append_rebase_revalidates_against_new_head(spark, table):
    """The rebase loop re-VALIDATES against the new head: if the winner
    re-partitioned the table (overwrite with a layout), the loser's flat
    append must refuse rather than publish a layout-violating commit."""
    table.commit(_df(spark, [(1, "a")]), mode="append")

    def winner_repartitions():
        table.commit(
            _df(spark, [(9, "z")]).repartition(1),
            mode="overwrite",
            partition_by=["v"],
        )

    with pytest.raises(ValueError, match="partition_by"):
        table.commit(
            _df(spark, [(3, "c")]),
            mode="append",
            on_conflict="rebase",
            _before_publish=winner_repartitions,
        )


def test_append_rebase_rejects_bad_combos(spark, table):
    with pytest.raises(ValueError, match="rebase"):
        table.commit(
            _df(spark, [(1, "a")]), mode="overwrite", on_conflict="rebase"
        )
    with pytest.raises(ValueError, match="contradictory"):
        table.commit(
            _df(spark, [(1, "a")]),
            mode="append",
            expected_base_version=0,
            on_conflict="rebase",
        )


def test_merge_retry_disjoint_concurrent_append_lands(spark, table):
    """Merge loses the race to an append whose rows are DISJOINT from the
    merge's source keys: the retry proves disjointness (stats pre-prune +
    semi-join over only the winner's added files), then republishes the
    same rewrite carrying the winner's file by identity."""
    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")
    src = spark.createDataFrame([(2, "B!")], "k long, new_v string")

    from pyspark.sql import functions as F

    res = table.merge(
        spark,
        src,
        ["k"],
        matched_update={"v": F.col("new_v")},
        on_conflict="retry",
        _before_publish=lambda: table.commit(
            _df(spark, [(100, "far")]).coalesce(1), mode="append"
        ),
    )
    assert res["version"] == 2  # v1 = winner append, v2 = rebased retry
    got = {(r.k, r.v) for r in table.read(spark).collect()}
    assert got == {(1, "a"), (2, "B!"), (100, "far")}
    # the winner's file was carried by identity
    assert res["files_carried"] >= 1


def test_merge_retry_overlapping_concurrent_append_refuses(spark, table):
    """The winner appended a row matching the merge's source keys — the
    merge's matched/not-matched classification is stale and the retry
    must refuse (a blind republish would duplicate the key)."""
    table.commit(_df(spark, [(1, "a")]).coalesce(1), mode="append")
    src = spark.createDataFrame([(5, "ins")], "k long, new_v string")

    from pyspark.sql import functions as F
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    with pytest.raises(SnapshotConflictError, match="source"):
        table.merge(
            spark,
            src,
            ["k"],
            matched_update={"v": F.col("new_v")},
            not_matched_insert={"k": F.col("k"), "v": F.col("new_v")},
            on_conflict="retry",
            _before_publish=lambda: table.commit(
                _df(spark, [(5, "racer")]).coalesce(1), mode="append"
            ),
        )


def test_merge_retry_winner_rewrote_touched_refuses(spark, table):
    """Two merges touching the SAME file: the loser's rewrite is built on
    files the winner already replaced — must refuse, never fork history."""
    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")

    from pyspark.sql import functions as F
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    def winner_merge():
        table.merge(
            spark,
            spark.createDataFrame([(1, "WIN")], "k long, new_v string"),
            ["k"],
            matched_update={"v": F.col("new_v")},
        )

    with pytest.raises(SnapshotConflictError, match="touched|rewrote"):
        table.merge(
            spark,
            spark.createDataFrame([(2, "LOSE")], "k long, new_v string"),
            ["k"],
            matched_update={"v": F.col("new_v")},
            on_conflict="retry",
            _before_publish=winner_merge,
        )
    # the winner's merge is the surviving history
    assert {(r.k, r.v) for r in table.read(spark).collect()} == {
        (1, "WIN"),
        (2, "b"),
    }


def test_merge_retry_concurrent_delete_refuses(spark, table):
    """A concurrent DELETE adds tombstones the merge's rewritten files
    would escape (newer seq) — resurrection hazard, must refuse."""
    table.commit(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="append")

    from pyspark.sql import functions as F
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotConflictError,
    )

    with pytest.raises(SnapshotConflictError, match="DELETE"):
        table.merge(
            spark,
            spark.createDataFrame([(2, "upd")], "k long, new_v string"),
            ["k"],
            matched_update={"v": F.col("new_v")},
            on_conflict="retry",
            _before_publish=lambda: table.delete_keys(
                spark, _df(spark, [(1, "a")]).select("k"), ["k"]
            ),
        )


# -- round-7: partition evolution --------------------------------------------


def test_partition_evolution_add_layout(spark, table):
    """Iceberg-style partition evolution: a flat table gains a layout on
    append; both generations read correctly and BOTH prune — old files
    through footer min/max, new files through directory point stats."""
    flat = spark.createDataFrame([(1, "x"), (2, "x")], "k long, p string")
    table.commit(flat.coalesce(1), mode="append")
    laid = spark.createDataFrame([(3, "y"), (4, "z")], "k long, p string")
    table.commit(
        laid.repartition(1),
        mode="append",
        partition_by=["p"],
        evolve_partitioning=True,
    )
    got = {(r.k, r.p) for r in table.read(spark).collect()}
    assert got == {(1, "x"), (2, "x"), (3, "y"), (4, "z")}
    # old gen prunes via footer stats (p range ['x','x'] excludes 'y'),
    # new gen via point stats: only the y file scans
    st = table.scan_stats(where=[("p", "=", "y")])
    assert st["n_files_scanned"] == 1
    assert {r.k for r in table.read(spark, where=[("p", "=", "y")]).collect()} == {3}
    # and the old generation is still reachable exactly
    st = table.scan_stats(where=[("p", "=", "x")])
    assert st["n_files_scanned"] == 1
    # OPTIMIZE migrates everything to the current layout
    table.optimize(spark, sort_cols=["k"])
    m = table._read_manifest(table.latest_version())
    assert m.get("partition_by") == ["p"]
    assert set(m["files"]) == set(m.get("partitions", {}))  # all laid out
    got = {(r.k, r.p) for r in table.read(spark).collect()}
    assert got == {(1, "x"), (2, "x"), (3, "y"), (4, "z")}


def test_partition_evolution_drop_layout(spark, table):
    """The reverse evolution: a partitioned table goes flat. Old files
    keep recovering the partition column from their directories (and
    keep their point stats); new files carry it as a data column."""
    laid = spark.createDataFrame([(1, "x"), (2, "y")], "k long, p string")
    table.commit(laid.repartition(1), mode="append", partition_by=["p"])
    flat = spark.createDataFrame([(3, "z")], "k long, p string")
    table.commit(
        flat.coalesce(1), mode="append", evolve_partitioning=True
    )
    got = {(r.k, r.p) for r in table.read(spark).collect()}
    assert got == {(1, "x"), (2, "y"), (3, "z")}
    # old-gen point stats still prune
    st = table.scan_stats(where=[("p", "=", "x")])
    assert st["n_files_scanned"] < st["n_files_total"]
    # without evolve_partitioning a layout mismatch still refuses
    # (the table is NOW flat, so a partitioned append is the mismatch)
    with pytest.raises(ValueError, match="partition_by"):
        table.commit(
            flat.coalesce(1), mode="append", partition_by=["p"]
        )


# -- round-7: replace_where ---------------------------------------------------


def test_replace_where_rewrites_only_matching_partition(spark, table):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, p string, v long"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    repl = spark.createDataFrame(
        [(20, "b", 200), (21, "b", 210)], "k long, p string, v long"
    )
    res = table.replace_where(spark, repl.coalesce(1), [("p", "=", "b")])
    assert (res["files_replaced"], res["files_carried"]) == (1, 2)
    got = {(r.k, r.p, r.v) for r in table.read(spark).collect()}
    assert got == {(1, "a", 10), (20, "b", 200), (21, "b", 210), (3, "c", 30)}
    # history intact: v0 still reads the original
    assert {r.k for r in table.read(spark, version=0).collect()} == {1, 2, 3}


def test_replace_where_guards(spark, table):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, p string, v long"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    # rows outside the predicate must refuse
    leak = spark.createDataFrame([(9, "c", 90)], "k long, p string, v long")
    with pytest.raises(ValueError, match="NOT matching"):
        table.replace_where(spark, leak.coalesce(1), [("p", "=", "b")])
    # non-partition predicate column must refuse (not provable per file)
    repl = spark.createDataFrame([(2, "b", 99)], "k long, p string, v long")
    with pytest.raises(ValueError, match="point values"):
        table.replace_where(spark, repl.coalesce(1), [("v", "=", 20)])


# -- round-7: JOIN-view incremental maintenance -------------------------------


def test_join_view_ivm_matches_recompute_all_change_kinds(spark, tmp_path):
    """Delta-join identity over signed multisets: inserts, deletes and
    updates on BOTH sides — including the same key changing on both
    sides at once (the ΔA⋈ΔB cross term, where signs must multiply) —
    maintained view == recomputed view."""
    from f1_bigdata_pyspark_spark.operators.ivm import (
        apply_cdc_to_join_rollup,
        join_rollup_of,
        signed_delta,
    )
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotTable,
        snapshot_diff,
    )
    from f1_bigdata_pyspark_spark.utils import materialize

    ta = SnapshotTable(str(tmp_path / "a"))
    tb = SnapshotTable(str(tmp_path / "b"))
    a0 = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (4, "g2")], "k long, g string"
    )
    b0 = spark.createDataFrame(
        [(1, 10), (2, 20), (4, 40)], "k long, v long"
    )
    # k=1 updates on BOTH sides; k=2 deleted from both; k=3 inserted in
    # both; k=4 updates only B; k=5 inserted only in A (no B match)
    a1 = spark.createDataFrame(
        [(1, "g2"), (3, "g1"), (4, "g2"), (5, "g1")], "k long, g string"
    )
    b1 = spark.createDataFrame(
        [(1, 11), (3, 30), (4, 44)], "k long, v long"
    )
    ta.commit(a0.coalesce(1), mode="append")
    tb.commit(b0.coalesce(1), mode="append")
    ta.commit(a1.coalesce(1), mode="overwrite")
    tb.commit(b1.coalesce(1), mode="overwrite")
    a_old, b_old = ta.read(spark, version=0), tb.read(spark, version=0)
    view0 = materialize(join_rollup_of(a_old, b_old, ["k"], ["g"], "v"))
    da = signed_delta(snapshot_diff(spark, ta, 0, 1, ["k"]), ["k"])
    db = signed_delta(snapshot_diff(spark, tb, 0, 1, ["k"]), ["k"])
    maintained = {
        (r.g, r.n, r.s)
        for r in apply_cdc_to_join_rollup(
            view0, a_old, b_old, da, db, ["k"], ["g"], "v"
        ).collect()
    }
    recomputed = {
        (r.g, r.n, r.s)
        for r in join_rollup_of(
            ta.read(spark, version=1), tb.read(spark, version=1),
            ["k"], ["g"], "v",
        ).collect()
    }
    assert maintained == recomputed
    # and the hand-checked truth: k1 -> (g2, 11), k3 -> (g1, 30),
    # k4 -> (g2, 44); k5 has no B match
    assert recomputed == {("g1", 1, 30), ("g2", 2, 55)}


def test_token_shard_layout_roundtrip_and_pruning(spark, table):
    """Packed token shards (round-7 packed_token_shards face) layout
    contract: array<long> sequences committed partitioned by source give
    ONE file per source per writer wave, prune per source, and round-trip
    ids exactly (order and padding included)."""
    rows = [
        ("a", 0, [1, 2, 3, 0]),
        ("a", 1, [4, 5, 0, 0]),
        ("b", 0, [7, 8, 9, 9]),
    ]
    df = spark.createDataFrame(
        rows, "source string, seq_id long, ids array<long>"
    )
    table.commit(
        df.repartition(4, "source"), mode="append", partition_by=["source"]
    )
    m = table._read_manifest(0)
    assert len(m["files"]) == 2  # one shard file per source
    st = table.scan_stats(where=[("source", "=", "a")])
    assert (st["n_files_total"], st["n_files_scanned"]) == (2, 1)
    back = sorted(
        (r.source, r.seq_id, list(r.ids))
        for r in table.read(spark).collect()
    )
    assert back == sorted((s, q, list(i)) for s, q, i in rows)
    # shard arithmetic: sequences * L == real tokens + padding
    L = 4
    real = sum(len([x for x in i if x != 0]) for _, _, i in rows)
    pad = sum(len([x for x in i if x == 0]) for _, _, i in rows)
    assert len(rows) * L == real + pad


def test_vacuum_of_source_spares_live_clone_files(spark, tmp_path, table):
    """Round-7 clone back-references: vacuuming the cloned-FROM table must
    keep every file a live shallow clone references; deleting the clone
    releases them on the next vacuum."""
    import shutil

    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    table.commit(_df(spark, [(1, "a")]).coalesce(1), mode="append")
    clone = SnapshotTable(str(tmp_path / "vclone"))
    clone.clone_from(table)
    cloned_files = set(clone._read_manifest(0)["files"])
    # source moves on: overwrite makes v0's files vacuum-eligible
    table.commit(_df(spark, [(9, "z")]).coalesce(1), mode="overwrite")
    vacuum(table, keep_versions=1, grace_seconds=0)
    for f in cloned_files:
        assert os.path.exists(f), "vacuum destroyed a live clone's file"
    assert {r.k for r in clone.read(spark).collect()} == {1}
    # delete the clone entirely -> its references are released
    shutil.rmtree(clone.root)
    vacuum(table, keep_versions=1, grace_seconds=0)
    assert not any(os.path.exists(f) for f in cloned_files)
    assert {r.k for r in table.read(spark).collect()} == {9}


def test_rebase_keeps_txn_stamp_for_exactly_once_writers(spark, table):
    """A streaming foreachBatch writer that loses a version race and
    rebases must still land its txn stamp — the rebased version DID
    commit that batch, and last_committed_batch drives replay skipping."""
    table.commit(_df(spark, [(1, "a")]), mode="append")
    v = table.commit(
        _df(spark, [(3, "c")]),
        mode="append",
        txn=("writer-x", 7),
        on_conflict="rebase",
        _before_publish=lambda: table.commit(
            _df(spark, [(2, "b")]), mode="append", txn=("writer-y", 4)
        ),
    )
    assert table._read_manifest(v)["txn"] == {"app": "writer-x", "batch": 7}
    assert table.last_committed_batch("writer-x") == 7
    assert table.last_committed_batch("writer-y") == 4
    assert {r.k for r in table.read(spark).collect()} == {1, 2, 3}


def test_replace_where_schema_contract(spark, table):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, p string, v long"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    # a frame with renamed/missing columns must refuse
    bad = spark.createDataFrame([(2, "b")], "k long, p string")
    with pytest.raises(ValueError, match="schema mismatch"):
        table.replace_where(spark, bad.coalesce(1), [("p", "=", "b")])


def test_two_streaming_writers_race_one_table(spark, table):
    """Round-7 multi-writer streaming: two foreachBatch writers (distinct
    app_ids) race the same snapshot table. The loser's commit rebases
    (same batch files, new head), its txn stamp lands on the rebased
    version, and both writers' replay-skip checks stay correct."""
    from f1_bigdata_pyspark_spark.streaming.upsert_sink import (
        foreach_batch_snapshot_append,
    )

    sink_a = foreach_batch_snapshot_append(table, app_id="stream-a")
    sink_b = foreach_batch_snapshot_append(table, app_id="stream-b")
    sink_a(_df(spark, [(1, "a")]), 0)
    # inject the race: while A publishes batch 1, B lands its batch 0
    orig_publish = table._publish
    raced = {"done": False}

    def racing_publish(version, manifest, **kw):
        if not raced["done"] and manifest.get("txn", {}).get("app") == "stream-a":
            raced["done"] = True
            sink_b(_df(spark, [(10, "x")]), 0)  # B wins this version
        return orig_publish(version, manifest, **kw)

    table._publish = racing_publish
    try:
        sink_a(_df(spark, [(2, "b")]), 1)
    finally:
        table._publish = orig_publish
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 2, 10]
    assert table.last_committed_batch("stream-a") == 1
    assert table.last_committed_batch("stream-b") == 0
    # replays on both apps are no-ops after the race
    v = table.latest_version()
    sink_a(_df(spark, [(2, "b")]), 1)
    sink_b(_df(spark, [(10, "x")]), 0)
    assert table.latest_version() == v


# -- round-7: bloom-filter point-lookup skipping ------------------------------


def test_bloom_skipping_point_lookup(spark, table):
    """Hash-distributed keys across files: every file's [min, max] spans
    the domain (range pruning dead), but the per-file bloom prunes an
    equality probe to the file(s) that can hold the key — and the read
    stays exact."""
    from pyspark.sql import functions as F

    rows = [(k, f"v{k}") for k in range(64)]
    df = spark.createDataFrame(rows, "k long, v string")
    for fid in range(4):  # interleaved: file fid holds keys k % 4 == fid
        table.commit(
            df.filter(F.col("k") % 4 == fid).coalesce(1),
            mode="append",
            bloom_cols=["k"],
        )
    # range stats alone cannot prune (all files span ~[0, 63])
    st = table.scan_stats(where=[("k", "=", 42)])
    assert st["n_files_total"] == 4
    # bloom prunes to (at most, but here exactly) the k%4==2 file —
    # with 64 values in 1024 bits FPs are possible but NOT for this
    # probe set if the test would flake; assert soundness + usefulness
    assert st["n_files_scanned"] < 4
    got = [(r.k, r.v) for r in table.read(spark, where=[("k", "=", 42)]).collect()]
    assert got == [(42, "v42")]
    # IN-list probes prune through the same tier
    st = table.scan_stats(where=[("k", "in", [1, 5])])  # both k%4==1
    assert st["n_files_scanned"] < 4
    assert {r.k for r in table.read(spark, where=[("k", "in", [1, 5])]).collect()} == {1, 5}
    # blooms survive the carry paths: an append leaves old blooms live
    table.commit(
        spark.createDataFrame([(100, "x")], "k long, v string").coalesce(1),
        mode="append",
        bloom_cols=["k"],
    )
    st = table.scan_stats(where=[("k", "=", 42)])
    # the new file's range [100,100] excludes 42; old blooms still prune
    assert st["n_files_scanned"] < 4


def test_bloom_soundness_property():
    """Property: a bloom built from a value set NEVER rejects a member
    (zero false negatives), for ints and strings."""
    from hypothesis import given, settings, strategies as st

    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _bloom_may_contain,
        _bloom_positions,
    )

    vals = st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.text(min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=200, deadline=None)
    @given(vs=vals)
    def check(vs):
        m, k = 256, 4
        bits = 0
        for v in vs:
            s = v if isinstance(v, str) else str(v)
            for p in _bloom_positions(s, k, m):
                bits |= 1 << p
        bloom = {"m": m, "k": k, "hex": format(bits, "x")}
        for v in vs:
            assert _bloom_may_contain(bloom, v), v

    check()


def test_rebase_never_duplicates_a_txn_batch(spark, table):
    """Zombie-writer race (why txnAppId exists): two drivers running the
    SAME (app_id, batch) both pass the sink's pre-check and both call
    commit(txn=...). The loser's rebase must detect the batch already
    landed on the new head and no-op — not republish the duplicate."""
    table.commit(_df(spark, [(1, "a")]), mode="append")

    def zombie_twin():
        # the other driver lands the SAME logical batch first
        table.commit(_df(spark, [(2, "b")]), mode="append", txn=("app-z", 3))

    v = table.commit(
        _df(spark, [(2, "b")]),
        mode="append",
        txn=("app-z", 3),
        on_conflict="rebase",
        _before_publish=zombie_twin,
    )
    # loser's commit resolved to the winner's head, publishing nothing
    assert v == table.latest_version() == 1
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 2]
    assert table.last_committed_batch("app-z") == 3


def test_bloom_property_survives_rewrites(spark, table):
    """The bloom spec is a table property: merge and OPTIMIZE rebuild
    blooms for their rewritten files, so point-lookup pruning never
    silently degrades after maintenance."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "k long, v string"
    )
    for fid in range(4):
        table.commit(
            df.filter(F.col("k") % 4 == fid).coalesce(1),
            mode="append",
            bloom_cols=["k"],
        )
    assert table.scan_stats(where=[("k", "=", 13)])["n_files_scanned"] < 4
    # merge rewrites the touched files — blooms must be rebuilt on them
    table.merge(
        spark,
        spark.createDataFrame([(13, "X")], "k long, new_v string"),
        ["k"],
        matched_update={"v": F.col("new_v")},
    )
    m = table._read_manifest(table.latest_version())
    assert m.get("bloom", {}).get("cols") == ["k"]
    st = table.scan_stats(where=[("k", "=", 13)])
    assert st["n_files_scanned"] < st["n_files_total"]
    assert {(r.k, r.v) for r in table.read(spark, where=[("k", "=", 13)]).collect()} == {(13, "X")}
    # OPTIMIZE keeps the property too (sorted rewrite -> ranges prune,
    # but the spec must survive for future point probes after appends)
    table.optimize(spark, sort_cols=["k"], target_files=2)
    m = table._read_manifest(table.latest_version())
    assert m.get("bloom", {}).get("cols") == ["k"]
    # and an inheriting plain append gets blooms without re-passing args
    table.commit(
        spark.createDataFrame([(100, "y")], "k long, v string").coalesce(1),
        mode="append",
    )
    mf = table._read_manifest(table.latest_version())
    new_files = [f for f in mf["files"] if mf["file_seq"][f] == mf["version"]]
    assert all("bloom" in mf["stats"][f].get("k", {}) for f in new_files)


# -- round-7 storage-layer review fixes ---------------------------------------


def test_optimize_conflicts_instead_of_dropping_concurrent_rows(spark, table):
    """OPTIMIZE rewrites the snapshot it READ; a commit landing in
    between must make it raise, never publish an overwrite that silently
    drops the concurrent rows."""
    table.commit(_df(spark, [(1, "a")]), mode="append")
    orig = table._publish
    raced = {"done": False}

    def racing(version, manifest, **kw):
        if not raced["done"] and manifest.get("mode") == "overwrite":
            raced["done"] = True
            table.commit(_df(spark, [(99, "zz")]), mode="append")
        return orig(version, manifest, **kw)

    table._publish = racing
    try:
        with pytest.raises(SnapshotConflictError):
            table.optimize(spark, sort_cols=["k"])
    finally:
        table._publish = orig
    # the concurrent append survived
    assert {r.k for r in table.read(spark).collect()} == {1, 99}


def test_merge_works_from_relative_root(spark, tmp_path, monkeypatch):
    """findTouchedFiles matches input_file_name() URIs against manifest
    paths via realpath — a table opened with a RELATIVE root must still
    classify matched keys as matched (not silently insert duplicates)."""
    from pyspark.sql import functions as F

    monkeypatch.chdir(tmp_path)
    t = SnapshotTable("rel_tbl")  # relative root on purpose
    t.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        mode="append",
    )
    res = t.merge(
        spark,
        spark.createDataFrame([(2, "B!")], "k long, new_v string"),
        ["k"],
        matched_update={"v": F.col("new_v")},
    )
    assert res["files_rewritten"] == 1  # the key WAS found
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "B!")]  # updated, not duplicated


def test_numeric_looking_string_partition_value_round_trips(spark, table):
    """A string partition value that parses as a number ('042') must not
    be rewritten by directory type inference ('42') — the committed type
    governs."""
    df = spark.createDataFrame(
        [(1, "042"), (2, "abc")], "k long, p string"
    )
    table.commit(df.repartition(1), mode="append", partition_by=["p"])
    got = {(r.k, r.p) for r in table.read(spark).collect()}
    assert got == {(1, "042"), (2, "abc")}
    assert {r.k for r in table.read(spark, where=[("p", "=", "042")]).collect()} == {1}


def test_snapshot_diff_across_schema_evolution(spark, table):
    """CDC between versions on either side of an additive evolution must
    report in the NEW schema (old side NULL-filled), not crash."""
    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff

    table.commit(_df(spark, [(1, "a")]).coalesce(1), mode="append")
    wide = spark.createDataFrame([(2, "b", 9)], "k long, v string, extra long")
    table.commit(wide.coalesce(1), mode="append", merge_schema=True)
    diff = snapshot_diff(spark, table, 0, 1, ["k"]).collect()
    by_key = {r.k: r for r in diff}
    assert by_key[2].change_type == "insert"
    assert by_key[2].new_row.extra == 9
    assert 1 not in by_key  # row 1 unchanged (old extra NULL == new NULL)


def test_last_committed_batch_survives_vacuum(spark, table):
    """Writer evidence lives in the head manifest's txns map: vacuuming
    old manifests must not re-open the duplicate-batch window."""
    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    table.commit(_df(spark, [(1, "a")]), mode="append", txn=("app", 41))
    table.commit(_df(spark, [(2, "b")]), mode="append")
    table.commit(_df(spark, [(3, "c")]), mode="append")
    vacuum(table, keep_versions=2, grace_seconds=0)  # drops v0 (the stamp)
    assert table.last_committed_batch("app") == 41
    # and the sink-side guard still holds: recommitting batch 41 no-ops
    v = table.latest_version()
    got = table.commit(
        _df(spark, [(1, "a")]), mode="append", txn=("app", 41)
    )
    assert got == v and table.latest_version() == v


def test_ivm_update_to_and_from_null_matches_recompute(spark, table):
    """A value transitioning to/from NULL in an update must contribute
    exactly its non-NULL side to the maintained sum (sum() skips NULL in
    a recompute; a raw `new - old` delta would be NULL and silently skip
    the WHOLE change)."""
    from f1_bigdata_pyspark_spark.operators.ivm import (
        apply_cdc_to_rollup,
        rollup_of,
    )
    from f1_bigdata_pyspark_spark.sources.snapshots import snapshot_diff
    from f1_bigdata_pyspark_spark.utils import materialize

    v0 = spark.createDataFrame(
        [(1, "g", 4), (2, "g", 6), (3, "g", None)], "k long, grp string, v long"
    )
    v1 = spark.createDataFrame(
        [(1, "g", None), (2, "g", 6), (3, "g", 5)], "k long, grp string, v long"
    )
    table.commit(v0.coalesce(1), mode="append")
    table.commit(v1.coalesce(1), mode="overwrite")
    view = materialize(
        rollup_of(table.read(spark, version=0), ["grp"], "v")
    )
    from pyspark.sql import functions as F

    # surface the (here unchanging) group key from the payload structs
    diff = snapshot_diff(spark, table, 0, 1, ["k"]).withColumn(
        "grp", F.coalesce(F.col("new_row.grp"), F.col("old_row.grp"))
    )
    maintained = {
        (r.grp, r.n, r.s)
        for r in apply_cdc_to_rollup(view, diff, ["grp"], "v").collect()
    }
    recomputed = {
        (r.grp, r.n, r.s)
        for r in rollup_of(table.read(spark, version=1), ["grp"], "v").collect()
    }
    assert maintained == recomputed == {("g", 3, 11)}


def test_publish_files_overwrite_carries_txn_evidence(spark, table):
    """ADVICE r8: a DataSource df.write.mode('overwrite') goes through
    publish_files with prior_manifest={} — if that dropped the head's
    txns map, every streaming writer's exactly-once evidence would be
    erased and a replayed foreachBatch epoch after the overwrite would
    commit a SECOND time. publish_files must carry txns across overwrite
    exactly like commit() does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _file_column_stats,
    )
    from f1_bigdata_pyspark_spark.streaming.upsert_sink import (
        foreach_batch_snapshot_append,
    )

    sink = foreach_batch_snapshot_append(table, app_id="stream-app")
    sink(_df(spark, [(1, "a")]), 0)
    sink(_df(spark, [(2, "b")]), 1)
    assert table.last_committed_batch("stream-app") == 1
    # external overwrite through the publish_files path (what the
    # DataSource writer calls for mode='overwrite')
    ext = os.path.join(table.data_dir, "external-0.parquet")
    pq.write_table(
        pa.table({"k": pa.array([9], pa.int64()), "v": ["z"]}), ext
    )
    table.publish_files(
        [ext],
        {ext: _file_column_stats(ext)},
        mode="overwrite",
        schema_json=table.read(spark).schema.json(),
    )
    assert table.read(spark).count() == 1
    # the evidence survived: a replayed epoch publishes NOTHING
    assert table.last_committed_batch("stream-app") == 1
    v_before = table.latest_version()
    sink(_df(spark, [(2, "b")]), 1)  # replay of epoch 1
    assert table.latest_version() == v_before
    # and progress resumes normally
    sink(_df(spark, [(3, "c")]), 2)
    assert table.last_committed_batch("stream-app") == 2


def test_compact_log_bounds_manifest_growth(spark, table, tmp_path):
    """Judge r8 ask 6: 30 commits + compact_log(K=10, keep_recent=3) ->
    <= ceil(30/10)+3 manifests on disk; time travel to retained
    checkpoints, fresh streams (earliest-retained baseline), change
    feeds from a checkpoint, and clones all still correct."""
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        read_changes_since,
    )

    for i in range(30):
        table.commit(_df(spark, [(i, f"v{i}")]), mode="append")
    assert len(table.versions()) == 30
    dropped = table.compact_log(every=10, keep_recent=3)
    kept = table.versions()
    assert kept == [0, 10, 20, 27, 28, 29]
    assert len(kept) <= 30 // 10 + 3
    assert sorted(dropped + kept) == list(range(30))
    # time travel to retained checkpoints and head
    assert table.read(spark, version=10).count() == 11
    assert table.read(spark, version=20).count() == 21
    assert table.read(spark).count() == 30
    # a dropped intermediate raises cleanly (same contract as vacuum)
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=15)
    # change feed from a retained checkpoint: exactly the rows after it
    df, cur = read_changes_since(spark, table, 20)
    assert cur == 29
    assert sorted(r.k for r in df.collect()) == list(range(21, 30))
    # clone from the compacted table still works
    clone = SnapshotTable(str(tmp_path / "clone"))
    clone.clone_from(table)
    assert clone.read(spark).count() == 30


def test_compact_log_then_stream_baselines_at_checkpoint(spark, table):
    """A fresh snapshot STREAM on a compacted table baselines at the
    earliest RETAINED manifest and delivers the whole table exactly
    once."""
    from f1_bigdata_pyspark_spark.sources.snapshot_source import register

    register(spark)
    for i in range(7):
        table.commit(_df(spark, [(i, f"v{i}")]), mode="append")
    table.compact_log(every=5, keep_recent=2)
    assert table.versions() == [0, 5, 6]
    got = []

    def sink(batch_df, _):
        got.extend(r.k for r in batch_df.collect())

    q = (
        spark.readStream.format("snapshot")
        .option("root", table.root)
        .load()
        .writeStream.foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    assert sorted(got) == list(range(7))


def test_vacuum_keep_every_protects_checkpoint_files(spark, table):
    """vacuum(keep_every=K) retains checkpoint manifests AND their
    files: long-range coarse time travel survives a vacuum that would
    otherwise keep only the recent window."""
    from f1_bigdata_pyspark_spark.sources.snapshots import vacuum

    for i in range(12):
        table.commit(_df(spark, [(i, f"v{i}")]), mode="append")
    rep = vacuum(table, keep_versions=2, grace_seconds=0, keep_every=5)
    assert table.versions() == [0, 5, 10, 11]
    assert rep["removed_manifests"] == 8
    # checkpoint reads still whole (files protected by the keep set)
    assert table.read(spark, version=5).count() == 6
    assert table.read(spark, version=10).count() == 11
    assert table.read(spark).count() == 12
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=7)


# ------------------------------------------------------- hidden partitioning
# (round 8): Iceberg-style partition TRANSFORMS — partition_by accepts
# day()/month()/year()/hour()/bucket(N,)/truncate(W,) specs; the derived
# directory column is hidden (never in the table schema) and predicates on
# the SOURCE column prune through the transform.


def _ts_df(spark, rows):
    # one task per commit write -> exactly one file per partition dir,
    # so the file-count arithmetic below is deterministic
    return spark.createDataFrame(
        rows, "k long, ts timestamp, v string"
    ).repartition(1)


def _days(spark):
    import datetime

    d = datetime.datetime
    return _ts_df(
        spark,
        [
            (1, d(2024, 3, 1, 8), "a"),
            (2, d(2024, 3, 1, 20), "b"),
            (3, d(2024, 3, 2, 5), "c"),
            (4, d(2024, 3, 3, 5), "d"),
        ],
    )


def test_hidden_day_transform_schema_and_pruning(spark, table):
    import datetime

    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    got = table.read(spark)
    # the derived directory column never enters the table schema
    assert got.columns == ["k", "ts", "v"]
    assert sorted(r.k for r in got.collect()) == [1, 2, 3, 4]
    # a predicate on the SOURCE column prunes day directories
    rep = table.scan_stats(
        where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    )
    assert rep == {"n_files_total": 3, "n_files_scanned": 1}
    rows = table.read(
        spark, where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    ).collect()
    assert sorted(r.k for r in rows) == [4]


def test_hidden_day_transform_prunes_without_footer_stats(spark, table):
    """The implied [day, day+1) range must carry pruning alone when the
    footer stats for the source column are absent (manifest stripped —
    models a writer that did not collect stats)."""
    import datetime
    import json

    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    v = table.latest_version()
    m = table._read_manifest(v)
    for f in m["files"]:
        m["stats"][f].pop("ts", None)
    path = table._manifest_path(v)
    os.unlink(path)
    with open(path, "w") as fh:
        json.dump(m, fh)
    rep = table.scan_stats(
        where=[("ts", "<", datetime.datetime(2024, 3, 2))]
    )
    assert rep == {"n_files_total": 3, "n_files_scanned": 1}


def test_hidden_bucket_transform_point_lookup(spark, table):
    import hashlib

    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(50)], "k long, v string"
    ).repartition(1)
    table.commit(df, mode="append", partition_by=["bucket(4,k)"])
    m = table._read_manifest(table.latest_version())
    assert len(m["files"]) == 4  # one directory per live bucket
    for probe in (0, 7, 33):
        rep = table.scan_stats(where=[("k", "=", probe)])
        assert rep["n_files_scanned"] == 1
        got = table.read(spark, where=[("k", "=", probe)]).collect()
        assert [r.k for r in got] == [probe]
    # the replayed hash agrees with what Spark wrote
    b = int(hashlib.md5(b"7").hexdigest()[:15], 16) % 4
    seg = f"k__bucket4={b}"
    (f7,) = [f for f in m["files"] if seg in f]
    assert m["partitions"][f7]["k__bucket4"] == ["num", b]
    # IN-list prunes to the union of probed buckets
    rep = table.scan_stats(where=[("k", "in", [0, 7])])
    assert rep["n_files_scanned"] <= 2


def test_hidden_truncate_string_transform(spark, table):
    df = spark.createDataFrame(
        [(1, "apple"), (2, "apricot"), (3, "banana"), (4, "cherry")],
        "k long, name string",
    ).repartition(1)
    table.commit(df, mode="append", partition_by=["truncate(2,name)"])
    rep = table.scan_stats(where=[("name", "=", "banana")])
    assert rep == {"n_files_total": 3, "n_files_scanned": 1}
    got = table.read(spark, where=[("name", "=", "apricot")]).collect()
    assert [r.k for r in got] == [2]
    # range ops prune by prefix order: every live prefix ('ap', 'ba',
    # 'ch') sorts above 'am', so nothing can hold a value < 'am'
    assert table.scan_stats(where=[("name", "<", "am")]) == {
        "n_files_total": 3,
        "n_files_scanned": 0,
    }
    assert table.scan_stats(where=[("name", ">=", "b")]) == {
        "n_files_total": 3,
        "n_files_scanned": 2,
    }


def test_hidden_truncate_numeric_transform(spark, table):
    df = spark.createDataFrame(
        [(k,) for k in range(20)], "k long"
    ).repartition(1)
    table.commit(df, mode="append", partition_by=["truncate(10,k)"])
    assert table.scan_stats(where=[("k", "<", 10)]) == {
        "n_files_total": 2,
        "n_files_scanned": 1,
    }
    got = table.read(spark, where=[("k", "<", 10)]).collect()
    assert sorted(r.k for r in got) == list(range(10))


def test_hidden_transform_null_directory(spark, table):
    import datetime

    d = datetime.datetime
    df = _ts_df(
        spark, [(1, d(2024, 1, 1), "a"), (2, None, "b"), (3, None, "c")]
    )
    table.commit(df, mode="append", partition_by=["day(ts)"])
    # transform(NULL) -> null directory: IS NULL keeps ONLY that file,
    # IS NOT NULL and comparisons prune it
    assert table.scan_stats(where=[("ts", "is_null", None)]) == {
        "n_files_total": 2,
        "n_files_scanned": 1,
    }
    got = table.read(spark, where=[("ts", "is_null", None)]).collect()
    assert sorted(r.k for r in got) == [2, 3]
    assert (
        table.scan_stats(where=[("ts", ">=", d(2020, 1, 1))])[
            "n_files_scanned"
        ]
        == 1
    )


def test_hidden_transform_append_invariant_and_evolution(spark, table):
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    # same layout, different spelling: canonicalization accepts it
    table.commit(
        _days(spark), mode="append", partition_by=[" day( ts ) "]
    )
    # a different layout refuses without evolve_partitioning
    with pytest.raises(ValueError, match="partition_by"):
        table.commit(
            _days(spark), mode="append", partition_by=["month(ts)"]
        )
    # evolution: new files lay out monthly, old files keep pruning
    # through their recorded day directories
    import datetime

    table.commit(
        _days(spark),
        mode="append",
        partition_by=["month(ts)"],
        evolve_partitioning=True,
    )
    rep = table.scan_stats(
        where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    )
    # 2 day-files per generation x2 pruned; the month file survives
    assert rep == {"n_files_total": 7, "n_files_scanned": 3}
    got = table.read(
        spark, where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    )
    assert sorted(r.k for r in got.collect()) == [4, 4, 4]


def test_hidden_transform_survives_optimize_and_delete(spark, table):
    import datetime

    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    table.optimize(spark, sort_cols=["ts"])
    rep = table.scan_stats(
        where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    )
    assert rep["n_files_scanned"] < rep["n_files_total"]
    got = table.read(
        spark, where=[("ts", ">=", datetime.datetime(2024, 3, 3))]
    )
    assert sorted(r.k for r in got.collect()) == [4, 4]
    # the compacted files landed back inside the hidden day layout
    m = table._read_manifest(table.latest_version())
    assert all(
        "ts__day" in m["partitions"].get(f, {}) for f in m["files"]
    )
    # merge-on-read delete composes with the hidden layout: the
    # tombstone anti-join applies on the pruned scan
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 1"), keys=["k"]
    )
    assert sorted(
        r.k for r in table.read(spark).collect()
    ) == [2, 2, 3, 3, 4, 4]
    rep2 = table.scan_stats(
        where=[("ts", "<", datetime.datetime(2024, 3, 2))]
    )
    assert rep2["n_files_scanned"] < rep2["n_files_total"]


def test_hidden_transform_bad_specs_refuse(spark, table):
    df = _days(spark)
    with pytest.raises(ValueError, match="bucket"):
        table.commit(df, mode="append", partition_by=["bucket(k)"])
    with pytest.raises(ValueError, match="timestamp"):
        table.commit(df, mode="append", partition_by=["day(k)"])
    with pytest.raises(ValueError, match="integer or string"):
        table.commit(df, mode="append", partition_by=["bucket(4,ts)"])
    with pytest.raises(ValueError, match="missing column"):
        table.commit(df, mode="append", partition_by=["day(nope)"])
    with pytest.raises(ValueError, match="collides"):
        table.commit(
            df.withColumn("ts__day", df.v), mode="append",
            partition_by=["day(ts)"],
        )


def test_hidden_transform_through_datasource(spark, table):
    """format("snapshot") with a pushed source-column filter plans input
    partitions only over surviving transform directories."""
    import datetime

    from f1_bigdata_pyspark_spark.sources.snapshot_source import register

    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    register(spark)
    cut = datetime.datetime(2024, 3, 3)
    df = (
        spark.read.format("snapshot")
        .option("root", table.root)
        .load()
        .filter(f"ts >= timestamp'{cut.isoformat()}'")
    )
    assert sorted(r.k for r in df.collect()) == [4]


def test_metadata_count_exact_or_none(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    assert table.metadata_count() == 4
    # file-aligned predicate: every file fully in or fully out
    assert table.metadata_count(where=[("ts", ">=", d(2024, 3, 2))]) == 2
    assert table.metadata_count(where=[("ts", "is_null", None)]) == 0
    assert table.metadata_count(where=[("ts", "is_not_null", None)]) == 4
    # mid-file boundary: the 03-01 file holds 08h and 20h rows; a noon
    # cut splits it -> None (scan fallback), never a wrong number
    assert (
        table.metadata_count(where=[("ts", ">=", d(2024, 3, 1, 12))])
        is None
    )
    # the answer comes from the manifest ALONE: with every data file
    # gone the count still serves (the zero-I/O proof)
    data = os.path.join(table.root, "data")
    os.rename(data, data + ".hidden")
    try:
        assert table.metadata_count() == 4
        assert (
            table.metadata_count(where=[("ts", "<", d(2024, 3, 2))]) == 2
        )
    finally:
        os.rename(data + ".hidden", data)
    # live merge-on-read tombstones subtract unknown rows -> refuse
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 1"), keys=["k"]
    )
    assert table.metadata_count() is None
    # a version BEFORE the delete still serves from metadata
    assert table.metadata_count(version=0) == 4


def test_metadata_min_max_exact_or_none(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    assert table.metadata_min_max("k") == (1, 4)
    assert table.metadata_min_max("ts") == (
        d(2024, 3, 1, 8),
        d(2024, 3, 3, 5),
    )
    # unknown column -> None (no stats anywhere)
    assert table.metadata_min_max("nope") is None
    # all-null column across a commit: exact answer is (None, None)
    t2 = SnapshotTable(table.root + "_nulls")
    t2.commit(
        spark.createDataFrame(
            [(1, None), (2, None)], "k long, v string"
        ).repartition(1),
        mode="append",
    )
    assert t2.metadata_min_max("v") == (None, None)
    # a transform-implied PERIOD bound is loose, never served as exact:
    # strip the footer ts stats so only the day-directory evidence remains
    import json

    v = table.latest_version()
    m = table._read_manifest(v)
    for f in m["files"]:
        m["stats"][f].pop("ts", None)
    path = table._manifest_path(v)
    os.unlink(path)
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert table.metadata_min_max("ts") is None
    assert table.metadata_min_max("k") == (1, 4)  # untouched column: exact
    # live tombstones poison every metadata aggregate
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 4"), keys=["k"]
    )
    assert table.metadata_min_max("k") is None


def test_datasource_timestamp_as_of(spark, table):
    import time

    from f1_bigdata_pyspark_spark.sources.snapshot_source import register

    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    t_between = time.time()
    time.sleep(0.05)
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    register(spark)
    old = (
        spark.read.format("snapshot")
        .option("root", table.root)
        .option("timestampAsOf", str(t_between))
        .load()
    )
    assert old.count() == 4  # v0 only
    latest = (
        spark.read.format("snapshot").option("root", table.root).load()
    )
    assert latest.count() == 8
    with pytest.raises(Exception, match="version' OR 'timestampAsOf"):
        (
            spark.read.format("snapshot")
            .option("root", table.root)
            .option("version", 0)
            .option("timestampAsOf", str(t_between))
            .load()
            .collect()
        )


def test_count_dispatches_metadata_then_scan(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    # metadata-served (file-aligned) and scan-served (mid-file cut)
    # agree with the ground truth
    assert table.count(spark) == 4
    assert table.count(spark, where=[("ts", ">=", d(2024, 3, 2))]) == 2
    assert (
        table.count(spark, where=[("ts", ">=", d(2024, 3, 1, 12))]) == 3
    )  # metadata refuses (mixed file); the pruned scan answers
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 2"), keys=["k"]
    )
    assert table.count(spark) == 3  # tombstones: scan path, anti-joined


def test_partitioned_publish_files_rebase_carries_both_generations(
    spark, table, tmp_path
):
    """Two partitioned external writers race: the loser's rebase must
    re-merge the WINNER's partition point values into its republished
    manifest (they are recomputed from the fresh head per attempt)."""
    import datetime
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _file_column_stats,
    )

    d = datetime.datetime
    table.commit(
        _days(spark), mode="append", partition_by=["day(ts)"]
    )  # v0: 3 day files

    def external(day, k):
        p = str(tmp_path / f"ext_{k}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([k], pa.int64()),
                    "ts": pa.array([day], pa.timestamp("us")),
                    "v": pa.array([f"v{k}"], pa.string()),
                }
            ),
            p,
        )
        return p, _file_column_stats(p)

    pw, sw = external(d(2024, 3, 9), 90)  # the racing winner's file
    pl, sl = external(d(2024, 3, 8), 80)  # the loser's file
    schema_json = table._read_manifest(0)["schema"]

    def winner_lands():
        table.publish_files(
            [pw],
            {pw: sw},
            schema_json=schema_json,
            partitions={pw: {"ts__day": ["str", "2024-03-09"]}},
            partition_by=["day(ts)"],
        )

    v = table.publish_files(
        [pl],
        {pl: sl},
        schema_json=schema_json,
        partitions={pl: {"ts__day": ["str", "2024-03-08"]}},
        partition_by=["day(ts)"],
        _before_publish=winner_lands,
    )
    m = table._read_manifest(v)
    assert v == 2 and len(m["files"]) == 5
    # both racing generations' point values survived the rebase
    assert m["partitions"][pw] == {"ts__day": ["str", "2024-03-09"]}
    assert m["partitions"][pl] == {"ts__day": ["str", "2024-03-08"]}
    rep = table.scan_stats(where=[("ts", ">=", d(2024, 3, 8))])
    assert rep == {"n_files_total": 5, "n_files_scanned": 2}
    got = table.read(spark, where=[("ts", ">=", d(2024, 3, 8))]).collect()
    assert sorted(r.k for r in got) == [80, 90]
    # layout mismatch on this path refuses too
    with pytest.raises(ValueError, match="layout"):
        table.publish_files(
            [pl], {pl: sl}, schema_json=schema_json
        )


def test_cdc_over_hidden_partitioned_table(spark, table):
    """read_changes_since serves appends made under a hidden-transform
    layout: the derived directory column stays invisible and the delta
    rows come back typed to the committed schema."""
    import datetime

    from f1_bigdata_pyspark_spark.sources.snapshots import (
        read_changes_since,
    )

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    delta0, cur = read_changes_since(spark, table, None)
    assert delta0.columns == ["k", "ts", "v"]
    assert delta0.count() == 4
    table.commit(
        _ts_df(spark, [(9, d(2024, 3, 9), "z")]),
        mode="append",
        partition_by=["day(ts)"],
    )
    delta1, cur2 = read_changes_since(spark, table, cur)
    assert [r.k for r in delta1.collect()] == [9]
    assert cur2 == table.latest_version()


def test_merge_into_hidden_partitioned_table(spark, table):
    """Copy-on-write MERGE rewrites touched files back into the hidden
    layout: the rewritten generation carries fresh transform point
    values and keeps pruning."""
    import datetime

    from pyspark.sql import functions as F

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    src = spark.createDataFrame(
        [(1, d(2024, 3, 1, 8), "UPDATED"), (9, d(2024, 3, 9), "new")],
        "k long, new_ts timestamp, new_v string",
    ).repartition(1)
    table.merge(
        spark,
        src,
        keys=["k"],
        matched_update={"v": F.col("new_v")},
        not_matched_insert={"ts": F.col("new_ts"), "v": F.col("new_v")},
    )
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got[1] == "UPDATED" and got[9] == "new" and len(got) == 5
    m = table._read_manifest(table.latest_version())
    assert all("ts__day" in m["partitions"].get(f, {}) for f in m["files"])
    rep = table.scan_stats(where=[("ts", ">=", d(2024, 3, 9))])
    assert rep["n_files_scanned"] == 1


# ----------------------------------------------------- CHECK constraints
# (round 8): Delta-style table constraints, enforced on every write path.


def test_check_constraint_lifecycle(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="append")
    v = table.add_constraint(spark, "k_positive", "k > 0")
    # metadata-only append: same files, streams see an empty delta
    m = table._read_manifest(v)
    assert m["mode"] == "append"
    assert m["files"] == table._read_manifest(v - 1)["files"]
    # a violating append refuses BEFORE publishing
    with pytest.raises(ValueError, match="k_positive"):
        table.commit(_df(spark, [(-5, "x")]), mode="append")
    assert table.latest_version() == v
    # a satisfying append lands; NULL passes (SQL-standard CHECK)
    table.commit(
        spark.createDataFrame([(3, "c"), (None, "d")], "k long, v string"),
        mode="append",
    )
    assert table.read(spark).count() == 4
    # adding a constraint the EXISTING data violates refuses
    with pytest.raises(ValueError, match="existing table"):
        table.add_constraint(spark, "v_is_a", "v = 'a'")
    # duplicate name refuses; drop works
    with pytest.raises(ValueError, match="already exists"):
        table.add_constraint(spark, "k_positive", "k > 100")
    table.drop_constraint("k_positive")
    table.commit(_df(spark, [(-5, "x")]), mode="append")
    assert table.read(spark).count() == 5


def test_check_constraint_survives_every_carry_path(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    table.add_constraint(spark, "k_small", "k < 100")

    def live() -> dict:
        return table._read_manifest(table.latest_version()).get(
            "constraints", {}
        )

    # overwrite keeps the contract (table property, like txns)
    table.commit(
        _days(spark), mode="overwrite", partition_by=["day(ts)"]
    )
    assert "k_small" in live()
    # OPTIMIZE (routes through commit) keeps it
    table.optimize(spark, sort_cols=["ts"])
    assert "k_small" in live()
    # merge-on-read delete keeps it
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 1"), keys=["k"]
    )
    assert "k_small" in live()
    # rollback keeps it
    table.rollback(table.latest_version() - 1)
    assert "k_small" in live()
    # the carried contract still ENFORCES: a violating append refuses
    with pytest.raises(ValueError, match="k_small"):
        table.commit(
            _ts_df(spark, [(500, None, "big")]),
            mode="append",
            partition_by=["day(ts)"],
        )


def test_check_constraint_enforced_on_merge_and_replace(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        spark.createDataFrame(
            [(1, 10), (2, 20)], "k long, val long"
        ).repartition(1),
        mode="append",
        partition_by=["k"],
    )
    table.add_constraint(spark, "val_le_100", "val <= 100")
    src = spark.createDataFrame([(1, 999)], "k long, new_val long")
    with pytest.raises(ValueError, match="val_le_100"):
        table.merge(
            spark, src, keys=["k"], matched_update={"val": F.col("new_val")}
        )
    with pytest.raises(ValueError, match="val_le_100"):
        table.replace_where(
            spark,
            spark.createDataFrame([(1, 200)], "k long, val long"),
            where=[("k", "=", 1)],
        )
    # satisfying versions of both land
    table.merge(
        spark,
        spark.createDataFrame([(1, 99)], "k long, new_val long"),
        keys=["k"],
        matched_update={"val": F.col("new_val")},
    )
    got = {r.k: r.val for r in table.read(spark).collect()}
    assert got == {1: 99, 2: 20}


# --------------------------------------------- predicate DML (round 8):
# copy-on-write DELETE FROM ... WHERE and UPDATE ... SET ... WHERE.


def test_delete_where_rewrites_only_may_match_files(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    before = set(table._read_manifest(table.latest_version())["files"])
    rep = table.delete_where(
        spark, [("ts", ">=", d(2024, 3, 3))]
    )
    assert rep["files_rewritten"] == 1 and rep["rows_changed"] == 1
    assert rep["files_carried"] == 2
    after = table._read_manifest(table.latest_version())
    # untouched day files carried BY IDENTITY (same paths)
    assert len(set(after["files"]) & before) == 2
    assert sorted(r.k for r in table.read(spark).collect()) == [1, 2, 3]
    # no-op delete publishes nothing
    v = table.latest_version()
    rep2 = table.delete_where(spark, [("k", "=", 999)])
    assert rep2["files_rewritten"] == 0 and table.latest_version() == v


def test_update_where_applies_set_and_respects_constraints(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, val long, v string",
        ).repartition(1),
        mode="append",
        partition_by=["bucket(2,k)"],
    )
    table.add_constraint(spark, "val_cap", "val <= 100")
    rep = table.update_where(
        spark,
        {"val": F.col("val") + 5, "v": "upper(v)"},
        [("k", "=", 2)],
    )
    assert rep["rows_changed"] == 1
    got = {r.k: (r.val, r.v) for r in table.read(spark).collect()}
    assert got == {1: (10, "a"), 2: (25, "B"), 3: (30, "c")}
    # bucket pruning kept the other bucket's file untouched when the
    # buckets differ (arithmetic, not assumption)
    assert rep["files_rewritten"] + rep["files_carried"] >= 2
    # a violating update refuses and publishes nothing
    v = table.latest_version()
    with pytest.raises(ValueError, match="val_cap"):
        table.update_where(
            spark, {"val": F.lit(500)}, [("k", "=", 1)]
        )
    assert table.latest_version() == v
    with pytest.raises(ValueError, match="missing columns"):
        table.update_where(spark, {"nope": F.lit(1)}, [("k", "=", 1)])


def test_delete_where_composes_with_tombstones_and_history(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    # merge-on-read delete first, then a predicate delete over the rest
    table.delete_keys(
        spark, _days(spark).select("k").filter("k = 1"), keys=["k"]
    )
    rep = table.delete_where(spark, [("ts", "<", d(2024, 3, 2))])
    # the 03-01 file held k=1 (tombstoned) and k=2: the rewrite went
    # THROUGH the tombstones, so only k=2 counted as changed
    assert rep["rows_changed"] == 1
    assert sorted(r.k for r in table.read(spark).collect()) == [3, 4]
    # time travel: the pre-DML snapshot still reads complete
    assert table.read(spark, version=0).count() == 4


def test_type_widening_append(spark, table):
    """Delta-4.0-style type widening under merge_schema: an int-family /
    float-family type change widens the TABLE schema; old narrow files
    serve cast-up through every read path."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    narrow = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)],
        StructType(
            [
                StructField("k", IntegerType()),
                StructField("x", DoubleType()),
            ]
        ),
    ).repartition(1)
    table.commit(narrow, mode="append")
    wide = spark.createDataFrame(
        [(3_000_000_000, 3.5)], "k long, x double"
    ).repartition(1)
    # without merge_schema: refuse
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit(wide, mode="append")
    table.commit(wide, mode="append", merge_schema=True)
    got = table.read(spark)
    assert [f.dataType for f in got.schema.fields] == [
        LongType(),
        DoubleType(),
    ]
    assert sorted(r.k for r in got.collect()) == [1, 2, 3_000_000_000]
    # narrowER later appends still land (frame int fits table long)
    table.commit(
        spark.createDataFrame(
            [(4, 4.5)],
            StructType(
                [
                    StructField("k", IntegerType()),
                    StructField("x", DoubleType()),
                ]
            ),
        ).repartition(1),
        mode="append",
        merge_schema=True,
    )
    assert table.read(spark).count() == 4
    # the widened column still prunes (tagged stats are family-agnostic)
    rep = table.scan_stats(where=[("k", ">=", 3_000_000_000)])
    assert rep["n_files_scanned"] == 1
    # cross-family change refuses even with merge_schema
    with pytest.raises(ValueError, match="schema mismatch"):
        table.commit(
            spark.createDataFrame([("oops", 1.0)], "k string, x double"),
            mode="append",
            merge_schema=True,
        )
    # the DataSource serving face reads the mixed generations identically
    from f1_bigdata_pyspark_spark.sources.snapshot_source import register

    register(spark)
    served = (
        spark.read.format("snapshot").option("root", table.root).load()
    )
    assert sorted(r.k for r in served.collect()) == sorted(
        r.k for r in table.read(spark).collect()
    )


# ------------------------------------------------ column rename / drop
# (round 8): name-mapping schema evolution — old files keep serving
# under the new logical names.


def test_rename_column_lifecycle(spark, table):
    import datetime

    d = datetime.datetime
    table.commit(_days(spark), mode="append")  # k, ts, v
    table.rename_column("v", "label")
    got = table.read(spark)
    assert got.columns == ["k", "ts", "label"]
    assert sorted(r.label for r in got.collect()) == ["a", "b", "c", "d"]
    # post-rename appends write the logical name; both generations serve
    table.commit(
        spark.createDataFrame(
            [(9, d(2024, 3, 9), "z")], "k long, ts timestamp, label string"
        ).repartition(1),
        mode="append",
    )
    assert sorted(r.label for r in table.read(spark).collect()) == [
        "a", "b", "c", "d", "z",
    ]
    # pruning on the renamed column reaches pre-rename footer stats
    rep = table.scan_stats(where=[("label", "=", "z")])
    assert rep["n_files_scanned"] < rep["n_files_total"]
    assert [
        r.k for r in table.read(spark, where=[("label", "=", "z")]).collect()
    ] == [9]
    # metadata aggregates resolve through the mapping too
    assert table.metadata_min_max("label") == ("a", "z")
    # predicate DML under the new name, old files included
    table.delete_where(spark, [("label", "=", "a")])
    assert sorted(r.k for r in table.read(spark).collect()) == [2, 3, 4, 9]


def test_rename_column_through_datasource_and_tombstones(spark, table):
    from f1_bigdata_pyspark_spark.sources.snapshot_source import register

    register(spark)
    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="append")
    table.rename_column("k", "id")
    # a MERGE-ON-READ delete AFTER the rename names the logical key;
    # pre-rename files store the physical — both read paths agree
    table.delete_keys(
        spark,
        spark.createDataFrame([(2,)], "id long"),
        keys=["id"],
    )
    rel = sorted(r.id for r in table.read(spark).collect())
    assert rel == [1, 3]
    served = (
        spark.read.format("snapshot").option("root", table.root).load()
    )
    assert served.columns == ["id", "v"]
    assert sorted(r.id for r in served.collect()) == [1, 3]
    # pushed filter on the logical name prunes and answers correctly
    got = (
        spark.read.format("snapshot")
        .option("root", table.root)
        .load()
        .filter("id >= 3")
        .collect()
    )
    assert [r.id for r in got] == [3]
    # the columns option speaks logical names too
    narrow = (
        spark.read.format("snapshot")
        .option("root", table.root)
        .option("columns", "id")
        .load()
    )
    assert narrow.columns == ["id"]
    assert sorted(r.id for r in narrow.collect()) == [1, 3]


def test_drop_column_retires_the_name(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]), mode="append")
    table.drop_column("v")
    assert table.read(spark).columns == ["k"]
    # re-adding the dropped name would resurrect stale bytes -> refuse
    with pytest.raises(ValueError, match="retired"):
        table.commit(
            _df(spark, [(3, "NEW")]), mode="append", merge_schema=True
        )
    # a fresh name is fine
    table.commit(
        spark.createDataFrame([(3, "w3")], "k long, w string"),
        mode="append",
        merge_schema=True,
    )
    assert table.read(spark).columns == ["k", "w"]
    # OPTIMIZE rewrites every file under the logical schema; the retired
    # name is releasable afterwards (commit overwrite drops bookkeeping)
    table.optimize(spark, sort_cols=["k"])
    table.commit(
        spark.createDataFrame(
            [(4, "w4", "fresh-v")], "k long, w string, v string"
        ),
        mode="append",
        merge_schema=True,
    )
    assert table.read(spark).columns == ["k", "w", "v"]


def test_rename_refusals_and_stream_guard(spark, table):
    import datetime

    from f1_bigdata_pyspark_spark.sources.snapshot_source import (
        _plan_added_partitions,
    )

    d = datetime.datetime
    table.commit(_days(spark), mode="append", partition_by=["day(ts)"])
    with pytest.raises(ValueError, match="layout"):
        table.rename_column("ts", "when_")
    table.add_constraint(spark, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="k_pos"):
        table.rename_column("k", "id")
    table.drop_constraint("k_pos")
    v_before = table.latest_version()
    table.rename_column("k", "id")
    table.commit(
        _ts_df(spark, [(9, d(2024, 3, 9), "z")]).withColumnRenamed(
            "k", "id"
        ),
        mode="append",
        partition_by=["day(ts)"],
    )
    # a stream checkpointed BEFORE the rename refuses to cross it
    with pytest.raises(ValueError, match="rename/drop"):
        _plan_added_partitions(
            table.root, v_before, table.latest_version()
        )


def test_rename_cannot_reuse_live_physical_names(spark, table):
    """The stale-bytes hole: a name that is still a PHYSICAL column in
    old files (renamed-away or dropped) must not be reusable until an
    OPTIMIZE rewrites those files."""
    table.commit(_df(spark, [(1, "a")]), mode="append")
    table.rename_column("v", "label")
    # "v" bytes still live in the v0 file: rename-to-v refuses
    with pytest.raises(ValueError, match="physical name"):
        table.rename_column("label", "v")
    # merge_schema re-ADD of "v" refuses the same way
    with pytest.raises(ValueError, match="retired physical"):
        table.commit(
            spark.createDataFrame(
                [(2, "x", "stale?")], "k long, label string, v string"
            ),
            mode="append",
            merge_schema=True,
        )
    # OPTIMIZE rewrites everything under logical names -> "v" is free
    table.optimize(spark, sort_cols=["k"])
    table.rename_column("label", "v")
    assert table.read(spark).columns == ["k", "v"]
    assert [r.v for r in table.read(spark).collect()] == ["a"]


def _evolved_then_compacted(spark, root: str) -> list[dict]:
    """Six commits, the last five widening the schema (so every scan
    takes the per-commit grouped path), compacted by optimize_incremental
    into one file: that file's rows in file order."""
    import pyarrow.parquet as pq

    t = SnapshotTable(root)
    t.commit(spark.createDataFrame([(0, "a")], "k long, v string"))
    for k in range(1, 6):
        t.commit(
            spark.createDataFrame([(k, "b", float(k))], "k long, v string, w double"),
            merge_schema=True,
        )
    rep = t.optimize_incremental(spark, small_file_max_bytes=1 << 30)
    assert rep["files_written"] == 1
    (out,) = t._read_manifest(rep["version"])["files"]
    return pq.read_table(out).to_pylist()


def _replaced_region_images(spark, root: str) -> list[dict]:
    """Six partitioned commits into ``g=1``, then a replace_where of that
    partition: the rows of its change-data delete images, file by file."""
    import pyarrow.parquet as pq

    t = SnapshotTable(root)
    for k in range(6):
        t.commit(
            spark.createDataFrame([(k, 1)], "k long, g long"), partition_by=["g"]
        )
    t.replace_where(
        spark, spark.createDataFrame([(9, 1)], "k long, g long"), [("g", "=", 1)]
    )
    files = t._read_manifest(t.latest_version())["change_data"]["types"]["delete"]
    return [row for f in files for row in pq.read_table(f).to_pylist()]


def test_rewrite_row_order_follows_the_manifest(spark, tmp_path):
    """A rewrite over a grouped-path scan writes its rows in the order the
    manifest lists their files: the per-commit groups are unioned in first
    appearance, not in the order of their random commit-dir names, so the
    same history gives the same compacted bytes, and the same change-data
    images, on every run."""
    first = _evolved_then_compacted(spark, str(tmp_path / "a"))
    second = _evolved_then_compacted(spark, str(tmp_path / "b"))
    assert [r["k"] for r in first] == list(range(6))
    assert first == second
    first = _replaced_region_images(spark, str(tmp_path / "c"))
    assert sorted(r["k"] for r in first) == list(range(6))
    assert first == _replaced_region_images(spark, str(tmp_path / "d"))
