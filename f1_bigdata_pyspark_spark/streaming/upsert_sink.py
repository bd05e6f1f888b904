"""foreachBatch idempotent upsert sink — the reference's simulated-velocity
ingestion (per-race batches, bulk keep-latest upserts, unique key —
``ingest_season_laps.py:80-108``, SURVEY.md §2.9/S4) as a NATIVE streaming
sink: every micro-batch merges into the parquet target through
``sources/parquet.upsert_keep_latest``, so replays and overlapping batches
are no-ops per key.

Scale notes: the merge window partitions by the upsert key (state bounded
per key). Each micro-batch lists the table's data files, appends the
keep-latest merge of exactly those files and the batch as new files, and
only then deletes the listed files: a failed write leaves the table as it
was, and a failed delete leaves old and merged rows side by side until the
replayed batch merges them again (readers in that window see both). On a
real deployment this whole sink is one Delta/Iceberg ``MERGE INTO`` per
micro-batch, atomic to readers — semantics identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from f1_bigdata_pyspark_spark.sources.parquet import (
    assert_unique_key,
    upsert_keep_latest,
)


def _data_files(spark, target_dir: str) -> list[str]:
    """The table's data files, through the Hadoop FS API (scheme-aware: an
    ``os`` listing sees only the driver's local disk, and would read an
    hdfs/s3 table as empty). Names starting with ``_`` or ``.`` are
    Spark's markers and checksums, not data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(target_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [
        st.getPath().toString()
        for st in fs.listStatus(hpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]


def _delete_files(spark, paths: list[str]) -> None:
    """Delete exactly ``paths``; one that cannot be deleted fails the
    micro-batch, and its replay merges the leftovers again."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        if not hpath.getFileSystem(conf).delete(hpath, False):
            raise OSError(f"could not delete {p}")


def foreach_batch_upsert(target_dir: str, key_cols: list[str], recency_col: str):
    """Build a ``foreachBatch`` function that upserts each micro-batch into
    ``target_dir`` (keep-latest per key) and re-asserts the unique-key
    invariant after every merge."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the merge reads exactly the listed files, so the files it appends
        # are not its own input
        old = _data_files(spark, target_dir)
        existing = spark.read.parquet(*old) if old else None
        upsert_keep_latest(existing, batch_df, key_cols, recency_col).write.mode(
            "append"
        ).parquet(target_dir)
        _delete_files(spark, old)
        assert_unique_key(spark.read.parquet(target_dir), key_cols)

    return apply


def foreach_batch_snapshot_append(table, app_id: str):
    """``foreachBatch`` sink into a snapshot-versioned table with
    EXACTLY-ONCE semantics on at-least-once replay: each micro-batch
    appends as one atomic snapshot commit stamped ``(app_id, batch_id)``;
    a replayed epoch (checkpoint recovery re-runs the last uncommitted
    batchId) finds its stamp already in a live manifest and publishes
    nothing — Delta's txnAppId/txnVersion protocol on the from-scratch
    snapshot layer. Composes with ``read_changes_since`` downstream: the
    stream lands in a TABLE whose change feed the next pipeline stage
    tails, closing the stream→table→stream loop.

    MULTI-WRITER (round 7): appends publish with ``on_conflict='rebase'``,
    so several streams (distinct ``app_id``s) can sink into ONE table —
    a lost version race republishes the same batch files on the new head
    (appends never conflict logically) and the txn stamp lands on the
    rebased version, keeping each writer's replay-skip check intact."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_committed_batch(app_id)
        if last is not None and batch_id <= last:
            return  # replayed epoch: already durably committed
        table.commit(
            batch_df,
            mode="append",
            txn=(app_id, batch_id),
            on_conflict="rebase",
        )

    return apply
