"""Structured Streaming faces: streaming results must equal their batch
twins (the reference's simulated-velocity semantics, SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.streaming.events_stream import (
    dedup_stream,
    hourly_rollup_stream,
    read_events_stream,
    run_to_memory,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events")


def test_streaming_hourly_equals_batch(spark, sf_smoke, events_batch):
    stream = read_events_stream(spark, sf_smoke)
    q = run_to_memory(
        hourly_rollup_stream(stream), "hourly_stream", output_mode="complete"
    )
    try:
        got = {
            (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM hourly_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_unique_keys(spark, sf_smoke, events_batch):
    stream = read_events_stream(spark, sf_smoke)
    q = run_to_memory(dedup_stream(stream), "dedup_stream", output_mode="append")
    try:
        n = spark.sql("SELECT count(DISTINCT event_id) c FROM dedup_stream").head()["c"]
        total = spark.sql("SELECT count(*) c FROM dedup_stream").head()["c"]
    finally:
        q.stop()
    assert n == total  # no duplicate keys survive
    assert total == events_batch.select("event_id").distinct().count()


def test_streaming_sessions_match_batch(spark, sf_smoke, events_batch):
    """session_window streaming sessionization == the batch lag/sum
    sessionization (user_sessions) on per-user session counts and totals."""
    from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY
    from f1_bigdata_pyspark_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
        session_rollup_stream,
    )

    stream = session_rollup_stream(read_events_stream(spark, sf_smoke))
    run_to_memory(stream, "sessions_stream", output_mode="complete")
    got = {
        (r.user_id, r.n_sessions, r.n_events)
        for r in spark.sql(
            "SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events"
            " FROM sessions_stream GROUP BY user_id"
        ).collect()
    }
    want = {
        (r.user_id, r.n_sessions, r.n_events)
        for r in _REGISTRY["user_sessions"].fn(spark, sf_smoke).collect()
    }
    assert got == want


def test_stream_static_enrich_matches_batch(spark, sf_smoke, events_batch):
    """Stream–static broadcast join == the same join run in batch: per-
    segment event counts after enriching events with the customer dim."""
    from f1_bigdata_pyspark_spark.streaming.events_stream import enrich_stream

    dim = load_table(spark, sf_smoke, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = (
        enrich_stream(read_events_stream(spark, sf_smoke), dim, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = run_to_memory(stream, "enrich_stream_agg", output_mode="complete")
    try:
        got = {
            r["c_mktsegment"]: r["n_events"]
            for r in spark.sql("SELECT * FROM enrich_stream_agg").collect()
        }
    finally:
        q.stop()
    want = {
        r["c_mktsegment"]: r["n_events"]
        for r in events_batch.join(
            dim, events_batch["user_id"] == dim["c_custkey"], "left"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_foreach_batch_upsert_idempotent(spark, sf_smoke, events_batch, tmp_path):
    """foreachBatch keep-latest upsert sink: stream the SAME events file in
    twice (two micro-batches of identical rows) — after both merges the
    target holds exactly one row per event_id, equal to the batch table."""
    import os

    from f1_bigdata_pyspark_spark.streaming.upsert_sink import foreach_batch_upsert

    stage = tmp_path / "stage"
    stage.mkdir()
    src = os.path.abspath(f"{sf_smoke}/events.parquet")
    os.symlink(src, stage / "a.parquet")
    os.symlink(src, stage / "b.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    target = str(tmp_path / "target")
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(target, ["event_id"], "ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = spark.read.parquet(target)
    assert final.count() == events_batch.count()  # replay was a no-op
    assert final.select("event_id").distinct().count() == final.count()


def test_file_stream_two_drops_keep_latest(spark, tmp_path):
    """True file-stream integration: a LIVE readStream on a directory, two
    file drops processed as separate micro-batches through the foreachBatch
    keep-latest upsert sink, with the target state asserted after EACH
    micro-batch (not just batch-equivalence at the end). Drop 2 overlaps
    drop 1 on a key with a newer timestamp — the overlap must update, the
    untouched key must survive, the new key must appear."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.streaming.upsert_sink import foreach_batch_upsert

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    target = str(tmp_path / "state")

    def write_drop(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, incoming / name)

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t1 = dt.datetime(2026, 1, 1, 13, 0, 0)
    write_drop(
        "drop1.parquet",
        [(1, t0, 10, "view", 1.0, "{}"), (2, t0, 11, "click", 2.0, "{}")],
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(str(incoming))
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(target, ["event_id"], "ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # micro-batch 1: drop1 only
        state = {
            r["event_id"]: (r["ts"], r["event_type"])
            for r in spark.read.parquet(target).collect()
        }
        assert state == {1: (t0, "view"), 2: (t0, "click")}

        # drop 2: key 2 re-arrives NEWER (must replace), key 3 is new
        write_drop(
            "drop2.parquet",
            [(2, t1, 11, "purchase", 9.0, "{}"), (3, t1, 12, "view", 3.0, "{}")],
        )
        q.processAllAvailable()  # micro-batch 2
        state = {
            r["event_id"]: (r["ts"], r["event_type"])
            for r in spark.read.parquet(target).collect()
        }
        assert state == {
            1: (t0, "view"),  # untouched key survives the second merge
            2: (t1, "purchase"),  # overlapping key keeps the LATEST row
            3: (t1, "view"),
        }
    finally:
        q.stop()


def test_stateful_running_totals_match_batch(spark, sf_smoke, events_batch):
    """applyInPandasWithState per-user running totals: after consuming the
    whole stream, the last emitted row per user equals the batch aggregate."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
    )
    from f1_bigdata_pyspark_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(read_events_stream(spark, sf_smoke))
    run_to_memory(stream, "user_totals_stream", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql(
            # latest emission per user = the one with the max running count
            "SELECT user_id, max_by(n_events, n_events) AS n_events,"
            "       max_by(sum_value, n_events) AS sum_value"
            " FROM user_totals_stream GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in events_batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, s) in want.items():
        gn, gs = got[u]
        assert gn == n, (u, gn, n)
        assert abs(gs - s) < 1e-6, (u, gs, s)


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, events_batch):
    from f1_bigdata_pyspark_spark.streaming.events_stream import (
        click_purchase_join_stream,
    )

    joined = click_purchase_join_stream(
        read_events_stream(spark, sf_smoke), read_events_stream(spark, sf_smoke)
    )
    q = run_to_memory(joined, "ss_join_stream", output_mode="append")
    try:
        got = {
            (r["click_id"], r["purchase_id"]): (r["user_id"], r["amount"])
            for r in spark.sql("SELECT * FROM ss_join_stream").collect()
        }
    finally:
        q.stop()
    c = events_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    want = {
        (r["click_id"], r["purchase_id"]): (r["c_user"], round(r["amount"], 2))
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_transform_with_state_matches_batch(spark, sf_smoke, events_batch):
    # the transformWithStateInPandas runner speaks protobuf to the JVM;
    # the wheel isn't in this container (same policy as the multimodal
    # codec stubs: the face is implemented, the env dependency is gated)
    pytest.importorskip("google.protobuf.descriptor")
    from f1_bigdata_pyspark_spark.streaming.stateful import running_user_max

    stream = read_events_stream(spark, sf_smoke)
    q = run_to_memory(
        running_user_max(stream), "twsip_stream", output_mode="update"
    )
    try:
        # update mode: keep the LAST emission per user (running totals)
        rows = spark.sql("SELECT * FROM twsip_stream").collect()
    finally:
        q.stop()
    got = {}
    for r in rows:  # later emissions overwrite earlier ones
        got[r["user_id"]] = (r["n_events"], round(r["max_value"], 6))
    want = {
        r["user_id"]: (r["n"], round(r["mx"], 6))
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_file_stream_corpus_dedup_append(spark, tmp_path):
    """Streaming corpus ingestion with insert-if-absent content dedup: two
    crawl drops as separate micro-batches; drop 2 repeats a drop-1 document
    VERBATIM under a different doc_id (must not re-append), repeats one
    intra-batch (one survivor), and brings one new text. State asserted
    after each micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.streaming.corpus_ingest import (
        foreach_batch_dedup_append,
        with_fingerprint,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    target = str(tmp_path / "corpus")

    def write_drop(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, incoming / name)

    write_drop(
        "drop1.parquet",
        [(1, "alpha beta gamma", "crawlA"), (2, "delta epsilon", "crawlA")],
    )

    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).parquet(str(incoming))
    q = (
        with_fingerprint(stream)
        .writeStream.foreachBatch(foreach_batch_dedup_append(target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        state = {
            r["text"]: r["doc_id"] for r in spark.read.parquet(target).collect()
        }
        assert state == {"alpha beta gamma": 1, "delta epsilon": 2}

        # drop 2: doc 3 duplicates doc 1's CONTENT (new id — must be
        # dropped by the cross-batch anti join), docs 4/5 duplicate each
        # other inside the batch (lowest id survives), doc 6 is new
        write_drop(
            "drop2.parquet",
            [
                (3, "alpha beta gamma", "crawlB"),
                (4, "zeta eta", "crawlB"),
                (5, "zeta eta", "crawlB"),
                (6, "theta iota", "crawlB"),
            ],
        )
        q.processAllAvailable()
        rows = spark.read.parquet(target).collect()
        state = {r["text"]: r["doc_id"] for r in rows}
        assert state == {
            "alpha beta gamma": 1,  # cross-batch duplicate NOT re-appended
            "delta epsilon": 2,
            "zeta eta": 4,  # intra-batch keep-first by doc_id
            "theta iota": 6,
        }
        # content fingerprints are unique in the accumulated corpus
        assert len(rows) == len({r["fp"] for r in rows})
    finally:
        q.stop()


def test_file_stream_neardup_ingest(spark, tmp_path):
    """Streaming NEAR-dup ingestion: the banded MinHash index persists
    across micro-batches. Drop 2 contains an edited copy of a drop-1 doc
    (one word changed — rejected via the index), an intra-batch near-dup
    pair (lowest id survives), and a fresh doc (kept)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.streaming.neardup_ingest import (
        foreach_batch_neardup_append,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the calm river "
        "flows past the old stone bridge under a pale morning sky today"
    )
    edited = base.replace("stone", "wooden")  # near-dup of base
    fresh1 = (
        "completely different subject matter discussing spark shuffle "
        "partitions adaptive execution and broadcast joins in production"
    )
    fresh2 = (
        "another unrelated passage about minhash signatures banded lsh "
        "indexes and the economics of deduplicating web scale corpora"
    )
    fresh2_edit = fresh2.replace("economics", "mechanics")

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    def write_drop(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            incoming / name,
        )

    write_drop("drop1.parquet", [(1, base), (2, fresh1)])
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(incoming)
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_neardup_append(corpus, index, threshold=0.5)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {
            1,
            2,
        }

        write_drop(
            "drop2.parquet",
            [(3, edited), (4, fresh2), (5, fresh2_edit), (6, "short new doc about gardens and rain")],
        )
        q.processAllAvailable()
        kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        # 3 rejected via the persisted index (near-copy of doc 1);
        # 4 kept, 5 rejected as intra-batch near-dup of 4; 6 kept
        assert kept == {1, 2, 4, 6}
        # index state covers exactly the kept docs
        sig_docs = {
            r["doc"] for r in spark.read.parquet(f"{index}/sig").collect()
        }
        assert sig_docs == kept
    finally:
        q.stop()


def test_corpus_dedup_survives_checkpoint_loss(spark, tmp_path):
    """Replay idempotence: destroying the checkpoint forces the file
    source to reprocess EVERY drop from scratch; the fingerprint anti-join
    must still keep the corpus duplicate-free — the batch-side guarantee
    that does not depend on streaming offsets."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.streaming.corpus_ingest import (
        foreach_batch_dedup_append,
        with_fingerprint,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    target = str(tmp_path / "corpus")

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(["alpha beta", "gamma delta"], pa.string()),
                "source": pa.array(["a", "a"], pa.string()),
            }
        ),
        incoming / "drop1.parquet",
    )

    def run_once(ckpt):
        stream = spark.readStream.schema(
            "doc_id long, text string, source string"
        ).parquet(str(incoming))
        q = (
            with_fingerprint(stream)
            .writeStream.foreachBatch(foreach_batch_dedup_append(target))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(tmp_path / "ckpt1")
    assert spark.read.parquet(target).count() == 2

    # checkpoint gone → same files replay as a brand-new stream
    shutil.rmtree(tmp_path / "ckpt1")
    run_once(tmp_path / "ckpt2")
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 2  # replay appended nothing
    assert len({r["fp"] for r in rows}) == 2


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: unlike dropDuplicates, the event-time
    column need not be part of the key, and re-arrivals of the SAME key
    with DIFFERENT timestamps inside the watermark window still dedup —
    the contract for at-least-once sources that restamp on retry."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    incoming = tmp_path / "incoming"
    incoming.mkdir()

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 1, 2], pa.int64()),
                # same event_id retried with a restamped ts 5 min later
                "ts": pa.array(
                    [t0, t0 + dt.timedelta(minutes=5), t0], pa.timestamp("us")
                ),
                "value": pa.array([1.0, 1.0, 2.0], pa.float64()),
            }
        ),
        incoming / "drop1.parquet",
    )

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, value double"
    ).parquet(str(incoming))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda df, _id: out.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_snapshot_change_feed_into_neardup_index(spark, tmp_path):
    """Snapshot CDC -> near-dup index composition: tail an append-mode
    snapshot table's change feed into the banded MinHash index across
    three committed versions, and prove (a) the edited re-arrival in a
    later version is rejected via the index, (b) a replayed delta (crash
    before the cursor persisted) appends NOTHING (insert-if-absent), and
    (c) after all versions the incremental index equals the one-shot
    batch build over the same arrivals — signature for signature, band
    row for band row."""
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable
    from f1_bigdata_pyspark_spark.streaming.neardup_ingest import (
        consume_snapshot_changes,
        foreach_batch_neardup_append,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the calm river "
        "flows past the old stone bridge under a pale morning sky today"
    )
    edited = base.replace("stone", "wooden")  # near-dup, later version
    fresh1 = (
        "completely different subject matter discussing spark shuffle "
        "partitions adaptive execution and broadcast joins in production"
    )
    fresh2 = (
        "another unrelated passage about minhash signatures banded lsh "
        "indexes and the economics of deduplicating web scale corpora"
    )

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    table = SnapshotTable(str(tmp_path / "tbl"))
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    table.commit(df([(1, base), (2, fresh1)]), mode="append")       # v0
    cur = consume_snapshot_changes(spark, table, corpus, index, None)
    assert cur == 0
    table.commit(df([(3, edited)]), mode="append")                  # v1
    table.commit(df([(4, fresh2)]), mode="append")                  # v2
    # two pending versions consumed as one delta
    cur = consume_snapshot_changes(spark, table, corpus, index, cur)
    assert cur == 2

    kept = sorted(
        r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()
    )
    assert kept == [1, 2, 4]  # edited re-arrival rejected via the index

    # cursor-at-head: nothing consumed, nothing changed
    assert consume_snapshot_changes(spark, table, corpus, index, cur) == 2

    # replayed delta (caller crashed before persisting the cursor): every
    # re-delivered doc is a near-dup of the copy already indexed -> no-op
    consume_snapshot_changes(spark, table, corpus, index, 0)
    assert sorted(
        r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()
    ) == [1, 2, 4]

    # equivalence with the one-shot batch build over the same arrivals
    corpus_b = str(tmp_path / "corpus_b")
    index_b = str(tmp_path / "index_b")
    foreach_batch_neardup_append(corpus_b, index_b)(table.read(spark), 0)
    inc_sig = {
        (r.doc, tuple(r.sig))
        for r in spark.read.parquet(f"{index}/sig").collect()
    }
    bat_sig = {
        (r.doc, tuple(r.sig))
        for r in spark.read.parquet(f"{index_b}/sig").collect()
    }
    assert inc_sig == bat_sig
    inc_bands = {
        (r.doc, r.band, r.bucket)
        for r in spark.read.parquet(f"{index}/bands").collect()
    }
    bat_bands = {
        (r.doc, r.band, r.bucket)
        for r in spark.read.parquet(f"{index_b}/bands").collect()
    }
    assert inc_bands == bat_bands


def test_file_stream_countmin_partials_merge_exact(spark, tmp_path):
    """Streaming maintenance of an ADDITIVE sketch, exactly-once without a
    transactional register: two file drops stream through
    foreach_batch_countmin_append (each micro-batch overwrites only its
    own partial), and the folded sketch must equal the one-shot batch
    sketch over the union — the commutative-monoid merge law, live.
    Replaying a batch (checkpoint-rollback simulation) must change
    nothing, and every CM estimate must upper-bound the exact count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.streaming.events_stream import (
        countmin_partial,
        foreach_batch_countmin_append,
        read_countmin,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    root = str(tmp_path / "cm")

    def write_drop(name, keys):
        pq.write_table(pa.table({"k": pa.array(keys, pa.string())}),
                       incoming / name)

    drop1 = ["a", "b", "a", "c"]
    drop2 = ["b", "d", "d", "d"]
    write_drop("d1.parquet", drop1)

    stream = spark.readStream.schema("k string").parquet(str(incoming))
    sink = foreach_batch_countmin_append(root, "k")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_drop("d2.parquet", drop2)
        q.processAllAvailable()
    finally:
        q.stop()

    def cm_rows(df):
        return {(r["r"], r["col"]): r["cnt"] for r in df.collect()}

    all_keys = spark.createDataFrame([(k,) for k in drop1 + drop2], "k string")
    merged = cm_rows(read_countmin(spark, root))
    batch = cm_rows(countmin_partial(all_keys, "k"))
    assert merged == batch and len(merged) > 0

    # replay batch 0 (same id, same data): identical bytes, nothing changes
    sink(spark.createDataFrame([(k,) for k in drop1], "k string"), 0)
    assert cm_rows(read_countmin(spark, root)) == merged

    # CM never undercounts: min over rows >= exact multiplicity
    from collections import Counter

    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.functions.text import md5_long

    exact = Counter(drop1 + drop2)
    probe = all_keys.distinct().select(
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"),
    ).select(
        "k", "r",
        (md5_long(F.concat_ws("#", F.col("k"), F.col("r").cast("string")))
         % 64).alias("col"),
    )
    est = {
        r["k"]: r["est"]
        for r in probe.join(
            read_countmin(spark, root), ["r", "col"]
        ).groupBy("k").agg(F.min("cnt").alias("est")).collect()
    }
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)


def test_fs_path_exists_is_scheme_aware(spark, tmp_path):
    """ADVICE r8: the streaming sinks' existence probe goes through the
    Hadoop FileSystem API so it resolves ANY scheme the session reaches
    (hdfs://, s3a://, file:) — an os.path probe is driver-local only and
    would read False forever on a remote target, making the upsert sink
    truncate the whole table to one micro-batch."""
    from f1_bigdata_pyspark_spark.utils import fs_path_exists

    existing = tmp_path / "t"
    existing.mkdir()
    assert fs_path_exists(spark, str(existing)) is True
    assert fs_path_exists(spark, str(tmp_path / "missing")) is False
    # explicit scheme-qualified URI resolves through the same API
    assert fs_path_exists(spark, f"file://{existing}") is True
    assert fs_path_exists(spark, f"file://{tmp_path}/missing") is False


def _upsert_state(spark, target):
    rows = spark.read.parquet(target).collect()
    state = {r["k"]: (r["at"], r["v"]) for r in rows}
    assert len(state) == len(rows), "duplicate keys in the upsert target"
    return state


_UPSERT_SCHEMA = "k long, at long, v string"
_LANDED = {k: (1, f"old{k}") for k in range(6)}
# keys 3..5 re-land newer, 6..8 are new, key 0 re-lands OLDER (must lose)
_BATCH = [(k, 2, f"new{k}") for k in range(3, 9)] + [(0, 0, "stale0")]
_AFTER = {**_LANDED, **{k: (2, f"new{k}") for k in range(3, 9)}}


def test_upsert_sink_replay_after_failed_delete(spark, tmp_path, monkeypatch):
    """The sink appends the merge before it deletes the files it merged:
    when the delete fails, no landed row is lost, and replaying the batch
    leaves one row per key, every key present, each at its latest
    ``at``."""
    from f1_bigdata_pyspark_spark.streaming import upsert_sink

    target = str(tmp_path / "target")
    sink = upsert_sink.foreach_batch_upsert(target, ["k"], "at")
    sink(spark.createDataFrame([(k, *v) for k, v in _LANDED.items()], _UPSERT_SCHEMA), 0)
    assert _upsert_state(spark, target) == _LANDED

    real_delete = upsert_sink._delete_files
    calls = []

    def delete_fails_once(spark, paths):
        calls.append(list(paths))
        if len(calls) == 1:
            raise OSError("injected delete failure")
        real_delete(spark, paths)

    monkeypatch.setattr(upsert_sink, "_delete_files", delete_fails_once)
    batch = spark.createDataFrame(_BATCH, _UPSERT_SCHEMA)
    with pytest.raises(OSError, match="injected"):
        sink(batch, 1)
    # old and merged files side by side: every landed key still there
    kept = spark.read.parquet(target).collect()
    assert {r["k"] for r in kept} == set(_AFTER)

    sink(batch, 1)  # the replayed epoch
    assert _upsert_state(spark, target) == _AFTER
    assert len(calls) == 2 and calls[0] and set(calls[0]) < set(calls[1])


def test_upsert_sink_failed_write_keeps_the_table(spark, tmp_path):
    """A merge whose write job fails at runtime leaves the landed table as
    it was: nothing is deleted before the new files exist."""
    from f1_bigdata_pyspark_spark.streaming.upsert_sink import foreach_batch_upsert

    target = str(tmp_path / "target")
    sink = foreach_batch_upsert(target, ["k"], "at")
    sink(spark.createDataFrame([(k, *v) for k, v in _LANDED.items()], _UPSERT_SCHEMA), 0)
    bad = spark.createDataFrame(_BATCH, _UPSERT_SCHEMA).withColumn(
        "v", F.when(F.col("k") == 8, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        sink(bad, 1)
    assert _upsert_state(spark, target) == _LANDED
