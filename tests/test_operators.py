"""Operator-level tests: upsert semantics, LSH recall vs exact Jaccard,
multimodal plumbing, vector math, plan-free unit checks."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.functions.vectors import cosine, dot, norm2
from f1_bigdata_pyspark_spark.multimodal.binary_ops import (
    decode_payload,
    extract_features,
    frame_sample,
    media_from_documents,
)
from f1_bigdata_pyspark_spark.operators.dedup import (
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_table,
)
from f1_bigdata_pyspark_spark.sources.parquet import (
    assert_unique_key,
    upsert_keep_latest,
)


# ---------------------------------------------------------------- upsert S4/S5
def test_upsert_keep_latest_is_idempotent(spark):
    existing = spark.createDataFrame(
        [(1, "a", 1.0, "t1"), (2, "b", 2.0, "t1")], "k int, v string, x double, ing string"
    )
    batch = spark.createDataFrame(
        [(2, "b2", 2.5, "t2"), (3, "c", 3.0, "t2")], "k int, v string, x double, ing string"
    )
    merged = upsert_keep_latest(existing, batch, ["k"], "ing")
    rows = {r["k"]: (r["v"], r["x"]) for r in merged.collect()}
    assert rows == {1: ("a", 1.0), 2: ("b2", 2.5), 3: ("c", 3.0)}
    # re-running the same batch changes nothing (reference upsert semantics)
    again = upsert_keep_latest(merged, batch, ["k"], "ing")
    assert {r["k"]: (r["v"], r["x"]) for r in again.collect()} == rows
    assert_unique_key(again, ["k"])


def test_assert_unique_key_raises(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    with pytest.raises(AssertionError, match="unique-key violation"):
        assert_unique_key(df, ["k"])


# ------------------------------------------------------------- LSH vs Jaccard
def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    exact = {
        (r["d1"], r["d2"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r["d1"], r["d2"]) for r in minhash_candidates(docs).collect()
    }
    assert exact, "fixture contains no high-jaccard pairs — test is vacuous"
    recall = len(exact & cand) / len(exact)
    # 8 bands x 4 rows: P(candidate | j=0.5) = 1-(1-0.5^4)^8 ≈ 0.40 per pair
    # but planted near-dups here are j≈0.9+ where recall ≈ 1
    assert recall >= 0.8, f"LSH recall {recall} over {len(exact)} exact pairs"


def test_asof_join_backward_semantics(spark):
    """Point-in-time join edge cases: exact-tie matches (state at the probe
    ts IS visible), no-prior-state → NULL, keys never mixed, latest-of-many
    wins."""
    import datetime as dt

    from f1_bigdata_pyspark_spark.operators.asof import asof_join_backward

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)  # noqa: E731
    probes = spark.createDataFrame(
        [(1, t(5)), (1, t(10)), (1, t(0)), (2, t(30))],
        "user_id long, ts timestamp",
    )
    states = spark.createDataFrame(
        [(1, t(5), "s@5"), (1, t(2), "s@2"), (1, t(8), None), (2, t(31), "s@31")],
        "user_id long, ts timestamp, st string",
    )
    got = {
        (r["user_id"], r["ts"]): r["st"]
        for r in asof_join_backward(
            probes, states, "user_id", "ts", ["st"]
        ).collect()
    }
    assert got == {
        (1, t(0)): None,  # nothing at or before
        (1, t(5)): "s@5",  # exact tie: state at probe ts matches
        # the MATCHED row is s@8 whose payload is NULL — ASOF semantics
        # carry that NULL; forward-filling s@5's value here would be wrong
        (1, t(10)): None,
        (2, t(30)): None,  # key 2's only state is later
    }

    # staleness tolerance: the t(10) probe's match (s@5, 300 s old) must
    # null out under a 60 s tolerance; the exact tie (0 s old) survives
    bounded = {
        (r["user_id"], r["ts"]): r["st"]
        for r in asof_join_backward(
            probes, states, "user_id", "ts", ["st"], tolerance_seconds=60
        ).collect()
    }
    assert bounded == {
        (1, t(0)): None,
        (1, t(5)): "s@5",
        (1, t(10)): None,
        (2, t(30)): None,
    }


def test_minhash_signatures_incremental_union(spark, sf_smoke):
    """Signature maintenance is embarrassingly incremental: signatures are
    per-doc, so sig(old ∪ new) == sig(old) ∪ sig(new) for doc-disjoint
    batches — the property that lets a 100 TB pipeline persist the
    signature table and append per ingest batch instead of recomputing."""
    from f1_bigdata_pyspark_spark.operators.dedup import (
        minhash_signature_arrays,
        shingle_hashes,
    )

    docs = load_table(spark, sf_smoke, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    def sigs(d):
        return {
            r["doc"]: tuple(r["sig"])
            for r in minhash_signature_arrays(
                shingle_hashes(d, "doc_id", "text", 3), 16
            ).collect()
        }

    merged = sigs(old)
    merged.update(sigs(new))
    assert merged == sigs(docs) and len(merged) > 0


def test_minhash_signature_forms_agree(spark, sf_smoke):
    """The array-form signature builder (collect_set + array-lambda minima,
    the production path) must produce bit-identical signatures to the
    long-form explode/groupBy builder for every doc and hash index — same
    affine rehash, different dataflow."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.operators.dedup import (
        minhash_signature_arrays,
        minhash_signatures,
        shingle_hashes,
    )

    docs = load_table(spark, sf_smoke, "documents")
    xs = shingle_hashes(docs, "doc_id", "text", 3)
    long_form = {
        (r["doc"], r["i"]): r["mh"]
        for r in minhash_signatures(xs, num_hashes=16).collect()
    }
    arr_form = {
        (r["doc"], i): mh
        for r in minhash_signature_arrays(xs, num_hashes=16).collect()
        for i, mh in enumerate(r["sig"])
    }
    assert long_form == arr_form and len(long_form) > 0


def test_simhash_near_dups_close_hamming(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    sim = {r["doc"]: r["simhash"] for r in simhash_table(docs).collect()}
    near = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert near
    for r in near:
        x = sim[r["d1"]] ^ sim[r["d2"]]
        hamming = bin(x & (2**64 - 1)).count("1")
        assert hamming <= 16, (r["d1"], r["d2"], hamming)


# ---------------------------------------------------------------- multimodal
def test_multimodal_extract_matches_python(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").limit(20)
    media = media_from_documents(docs)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    for row in docs.collect():
        want_sha = hashlib.sha256(row["text"].encode("utf-8")).hexdigest()
        got = feats[row["doc_id"]]
        assert got["sha256"] == want_sha
        assert got["n_bytes"] == len(row["text"].encode("utf-8"))
        assert 0 <= got["fake_width"] < 1920
        assert 0 <= got["fake_height"] < 1080


def test_resize_normalizes_payload_size(spark, sf_smoke):
    from f1_bigdata_pyspark_spark.multimodal.binary_ops import resize

    docs = load_table(spark, sf_smoke, "documents").limit(10)
    media = media_from_documents(docs)
    out = resize(media, width=8, height=4).collect()
    originals = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(out) == 10
    for r in out:
        b = bytes(r["payload"])
        assert len(b) == 32  # exactly width*height bytes
        assert r["meta"]["n_bytes"] == 32
        assert (r["target_width"], r["target_height"]) == (8, 4)
        # deterministic fake: cycle-repeat of the source bytes
        src = originals[r["media_id"]] or b"\x00"
        want = (src * (-(-32 // len(src))))[:32]
        assert b == want


def test_decode_stub_raises_for_real_codecs():
    assert decode_payload(b"xy", "fake") == b"xy"
    with pytest.raises(NotImplementedError, match="codec 'jpeg'"):
        decode_payload(b"\xff\xd8", "jpeg")


def test_frame_sample_offsets(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").limit(5)
    media = media_from_documents(docs)
    frames = frame_sample(media, every_n_bytes=64).collect()
    by_id: dict[int, list[int]] = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["byte_offset"])
    sizes = {r["media_id"]: r["meta"]["n_bytes"] for r in media.collect()}
    for mid, offs in by_id.items():
        assert offs == sorted(offs)
        assert offs[0] == 0
        assert len(offs) == max(sizes[mid] // 64, 1)


# -------------------------------------------------------------------- vectors
def test_vector_math_matches_python(spark):
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm2(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).head()
    import math

    want_dot = sum(x * y for x, y in zip(a, b))
    want_na = math.sqrt(sum(x * x for x in a))
    want_nb = math.sqrt(sum(x * x for x in b))
    assert row["d"] == pytest.approx(want_dot)
    assert row["na"] == pytest.approx(want_na)
    assert row["c"] == pytest.approx(want_dot / (want_na * want_nb))


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>"
    )
    assert df.select(cosine(F.col("a"), F.col("b")).alias("c")).head()["c"] is None


def test_label_cohesion_matches_numpy(spark, sf_smoke):
    """applyInPandas grouped-map cohesion == driver-side numpy ground truth."""
    import numpy as np

    from f1_bigdata_pyspark_spark.catalog import load_table
    from f1_bigdata_pyspark_spark.operators.grouped_map import label_cohesion

    emb = load_table(spark, sf_smoke, "embeddings")
    got = {r.label: r for r in label_cohesion(emb).collect()}
    rows = emb.collect()
    by_label: dict[str, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.embedding)
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        mat = np.stack(vecs)
        c = mat.mean(axis=0)
        cos = mat @ c / (np.linalg.norm(mat, axis=1) * np.linalg.norm(c))
        assert got[label].n_vectors == len(vecs)
        assert abs(got[label].mean_cos - round(float(cos.mean()), 6)) <= 1e-6
        assert abs(got[label].min_cos - round(float(cos.min()), 6)) <= 1e-6


# -------------------------------------------------------------------- graph
def test_connected_components_chain_and_islands(spark):
    from f1_bigdata_pyspark_spark.operators.graph import (
        component_sizes,
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round) + island 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    labels = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    sizes = {
        r["cluster_id"]: r["n_docs"]
        for r in component_sizes(connected_components(edges)).collect()
    }
    assert sizes == {1: 4, 10: 2}


def test_connected_components_star_matches_propagation_on_deep_chain(spark):
    """Large-star/small-star must label a chain FAR deeper than its round
    cap identically to min-label propagation (which needs rounds ≈ depth).
    Chain depth ≫ star cap — if the star algorithm were secretly
    diameter-bound it could not converge. r12 (verdict #1, suite budget):
    depth 120 → 60; the property needs only star_cap < depth (36 < 60
    holds strictly) and propagation's wall is linear in depth (~35 s of
    the suite was this one chain)."""
    import math

    from f1_bigdata_pyspark_spark.operators.graph import (
        connected_components,
        connected_components_propagation,
    )

    depth = 60
    chain = [(i, i + 1) for i in range(depth)]
    extra = [(500, 501), (501, 502), (700, 700 + 1), (900, 900)]
    edges = spark.createDataFrame(chain + extra, "d1 long, d2 long")

    star_cap = 4 * math.ceil(math.log2(depth + len(extra) * 2 + 1)) + 8
    assert star_cap < depth  # the point of the test

    star = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    prop = {
        r["node"]: r["comp"]
        for r in connected_components_propagation(
            edges, max_iter=depth + 5
        ).collect()
    }
    assert star == prop
    assert star[depth] == 0  # deepest chain node reaches the component min
    assert star[502] == 500 and star[701] == 700
    assert star[900] == 900  # self-loop-only node keeps its label


def test_audio_features_match_numpy(spark, sf_smoke):
    import numpy as np

    from f1_bigdata_pyspark_spark.multimodal.binary_ops import audio_features

    docs = load_table(spark, sf_smoke, "documents").limit(15)
    media = media_from_documents(docs)
    got = {r["media_id"]: r for r in audio_features(media).collect()}
    for r in media.collect():
        x = np.frombuffer(bytes(r["payload"]), dtype=np.int8).astype(np.float64)
        if x.size == 0:
            x = np.zeros(1)
        g = got[r["media_id"]]
        assert g["n_samples"] == x.size
        assert g["rms"] == pytest.approx(round(float(np.sqrt(np.mean(x * x))), 6))
        assert g["zero_crossings"] == int(
            np.sum(np.signbit(x[1:]) != np.signbit(x[:-1]))
        )
        assert g["peak"] == int(np.max(np.abs(x)))


def test_payload_stats_arrow_matches_python(spark, sf_smoke):
    """mapInArrow byte-stats agree with a pure-Python recomputation over
    the same payloads (and with the mapInPandas n_bytes)."""
    from f1_bigdata_pyspark_spark.catalog import load_table
    from f1_bigdata_pyspark_spark.multimodal.binary_ops import (
        extract_features,
        media_from_documents,
        payload_stats_arrow,
    )

    docs = load_table(spark, sf_smoke, "documents").limit(40)
    media = media_from_documents(docs)
    got = {r["media_id"]: r for r in payload_stats_arrow(media).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        buf = text.encode("utf-8")
        acc = 0
        for b in buf:
            acc ^= b
        row = got[doc_id]
        assert row["n_bytes"] == len(buf)
        assert row["first_byte"] == (buf[0] if buf else None)
        assert row["byte_xor"] == acc
    pandas_len = {
        r["media_id"]: r["n_bytes"]
        for r in extract_features(media).collect()
    }
    assert {k: v["n_bytes"] for k, v in got.items()} == pandas_len


def test_pandas_on_spark_matches_dataframe_api(spark, sf_smoke):
    """The reference analyzes with pandas idioms; pandas-on-Spark runs the
    same groupby-mean SHAPE distributed. Pin that the ps face agrees with
    the DataFrame API on a reference-shaped rollup (mean value per event
    type)."""
    import pyspark.pandas as ps
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table

    events = load_table(spark, sf_smoke, "events")
    expected = {
        r["event_type"]: round(r["m"], 9)
        for r in events.groupBy("event_type")
        .agg(F.avg("value").alias("m"))
        .collect()
    }
    psdf = events.select("event_type", "value").pandas_api()
    got = psdf.groupby("event_type")["value"].mean().to_pandas()
    assert {k: round(v, 9) for k, v in got.items()} == expected


def test_probe_widening_never_hurts_ann(spark, sf_smoke):
    """Multi-probe LSH and nprobe-2 IVF search strict supersets of their
    single-probe candidate sets, so the returned k-th best cosine can only
    improve (or tie)."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table
    from f1_bigdata_pyspark_spark.operators.similarity import (
        ivf_probe_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]

    single = [r["cos_sim"] for r in lsh_topk(emb, qv, k=10, n_planes=6).collect()]
    multi = [
        r["cos_sim"]
        for r in lsh_multiprobe_topk(emb, qv, k=10, n_planes=6).collect()
    ]
    assert len(multi) >= len(single)
    for m, s in zip(multi, single):
        assert m >= s

    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    one = [
        r["cos_sim"]
        for r in ivf_probe_topk(emb, centroids, qv, k=10, nprobe=1).collect()
    ]
    two = [
        r["cos_sim"]
        for r in ivf_probe_topk(emb, centroids, qv, k=10, nprobe=2).collect()
    ]
    assert len(two) >= len(one)
    for t, o in zip(two, one):
        assert t >= o


def test_apply_in_arrow_group_stats(spark, sf_smoke):
    """applyInArrow — the group-level Arrow tier (pandas-free sibling of
    applyInPandas): per-source byte stats computed straight off Arrow
    tables, matched against the DataFrame API."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table

    docs = load_table(spark, sf_smoke, "documents").select("source", "text")

    def stats(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        lens = pc.utf8_length(table.column("text"))
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": [table.num_rows],
                "total_chars": [pc.sum(lens).as_py()],
            }
        )

    got = {
        r["source"]: (r["n_docs"], r["total_chars"])
        for r in docs.groupBy("source")
        .applyInArrow(stats, schema="source string, n_docs long, total_chars long")
        .collect()
    }
    want = {
        r["source"]: (r["n"], r["c"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("c"),
        )
        .collect()
    }
    assert got == want


def test_header_parser_on_genuine_files(spark):
    """Independent naive-form check for parse_media_headers: files built
    with Python's OWN encoders (zlib-CRC'd PNG chunks, the stdlib wave
    module, a spec-literal JPEG) — not the relational synthesis path — so
    a shared Spark/oracle synthesis bug cannot hash green."""
    import io
    import struct
    import wave
    import zlib

    from f1_bigdata_pyspark_spark.multimodal.binary_ops import (
        parse_media_headers,
    )

    def png(w, h):
        ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )

    def jpeg(w, h):
        app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
        sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03" + bytes(
            [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
        )
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        )

    def wav(ch, rate, width_bytes):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(ch)
            f.setsampwidth(width_bytes)
            f.setframerate(rate)
            f.writeframes(b"\x00" * (ch * width_bytes * 4))
        return buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, bytearray(png(640, 480))),
            (2, bytearray(jpeg(1920, 1080))),
            (3, bytearray(wav(2, 44100, 2))),
            (4, bytearray(b"\x00garbage")),
        ],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: r.asDict()
        for r in parse_media_headers(media).collect()
    }
    assert got[1]["container"] == "png"
    assert (got[1]["width"], got[1]["height"]) == (640, 480)
    assert got[2]["container"] == "jpeg"
    assert (got[2]["width"], got[2]["height"]) == (1920, 1080)
    assert got[3]["container"] == "wav"
    assert (
        got[3]["channels"],
        got[3]["sample_rate"],
        got[3]["bits_per_sample"],
    ) == (2, 44100, 16)
    assert got[4]["container"] == "unknown"
    assert got[4]["width"] is None and got[4]["sample_rate"] is None


def test_header_parser_plan_is_codegen_only(spark, sf_smoke):
    """The header parse must stay JVM-side: no Python evaluation nodes of
    any tier in the plan (it's hex/substring/conv built-ins end to end)."""
    from f1_bigdata_pyspark_spark.catalog import load_table
    from f1_bigdata_pyspark_spark.multimodal.binary_ops import (
        parse_media_headers,
        synth_container_media,
    )
    from f1_bigdata_pyspark_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        parse_media_headers(
            synth_container_media(load_table(spark, sf_smoke, "documents"))
        )
    )
    for node in ("EvalPython", "MapInPandas", "MapInArrow", "PythonUDF"):
        assert node not in plan, (node, plan)


def test_bpe_merge_table_matches_naive_python(spark):
    """Independent naive-form check (the oracle shares the relational
    formulation, so it alone can't catch a shared greedy-walk mistake):
    a sequential pure-Python BPE trainer — explicit leftmost-greedy walk,
    count-desc-then-lexicographic argmax — must produce the identical
    merge table. The corpus stresses the two hazards: same-symbol runs
    (aaaa -> overlapping matches, only odd ranks merge) and count ties
    (resolved lexicographically)."""
    from collections import Counter

    from f1_bigdata_pyspark_spark.operators.bpe import bpe_merge_table

    texts = [
        "aaaa aaaa baaab",      # runs of 'a': overlap discipline
        "xy xy xy zz zz",       # tie pressure between xy and zz
        "abab abab cdcd",
        "aaaa xy zz cd cd cd",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 ["doc_id", "text"])
    got = [
        (r.round, r.left_sym, r.right_sym, r.merged, r.n_occurrences)
        for r in bpe_merge_table(docs, rounds=4).orderBy("round").collect()
    ]

    vocab = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if len(w) >= 2:
                vocab[w] += 1
    state = {w: list(w) for w in vocab}
    want = []
    for rnd in range(1, 5):
        counts = Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += vocab[w]
        (A, B), cnt = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        want.append((rnd, A, B, A + B, cnt))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == A and syms[i + 1] == B:
                    out.append(A + B)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    assert got == want


def test_gopher_gates_fail_pathological_docs(spark, tmp_path):
    """The synthetic corpus passes every Gopher gate (fail columns all 0),
    so the oracle hash can't prove the gate LOGIC — this does: crafted
    pathological documents must each trip exactly their gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY

    rows = [
        (0, "too short", "bad_len"),                      # < 8 tokens
        (1, " ".join(["supercalifragilistic"] * 20), "bad_wlen"),  # mean wlen > 10
        (2, " ".join(["123 456 789"] * 10), "bad_alpha"),  # no alpha chars
        (3, " ".join(["the cat"] * 30), "bad_bigram"),     # one bigram dominates
        (4, " ".join(["a b c"] * 40), "bad_trigram"),      # trigrams all dup
        (5, " ".join(f"w{i} ok{i} fine{i}" for i in range(20)), "good"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    got = {
        r.source: r.asDict()
        for r in _REGISTRY["gopher_quality_gates"].fn(spark, str(tmp_path)).collect()
    }
    assert got["bad_len"]["fail_len"] == 1 and got["bad_len"]["n_pass"] == 0
    assert got["bad_wlen"]["fail_wlen"] == 1 and got["bad_wlen"]["n_pass"] == 0
    assert got["bad_alpha"]["fail_alpha"] == 1 and got["bad_alpha"]["n_pass"] == 0
    assert got["bad_bigram"]["fail_bigram"] == 1 and got["bad_bigram"]["n_pass"] == 0
    assert got["bad_trigram"]["fail_trigram"] == 1 and got["bad_trigram"]["n_pass"] == 0
    assert got["good"]["n_pass"] == 1


def test_pca_top_component_aligns_with_numpy(spark):
    """Independent naive-form check: the quantized power-iteration loading
    vector must align (|cos| > 0.999) with numpy's top eigenvector of the
    float covariance of the same data, and the Rayleigh quotient must sit
    within 0.5% of numpy's top eigenvalue of the rescaled matrix
    (100 unrolled rounds: the synthetic spectrum is near-flat)."""
    import numpy as np

    from f1_bigdata_pyspark_spark.queries.registry import _REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = _REGISTRY["embedding_pca_top_component"].fn(spark, sf).collect()
    # rebuild the same quantized, n-scaled covariance in numpy
    import duckdb

    con = duckdb.connect()
    emb = con.execute(
        f"SELECT embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    X = np.round(np.array([e[0] for e in emb], dtype=np.float64) * 1000)
    n = X.shape[0]
    W = n * X - X.sum(axis=0)
    A = W.T @ W
    A2 = np.round(A / np.abs(A).max() * 1_000_000)
    evals, evecs = np.linalg.eigh(A2)
    top = evecs[:, -1]
    got = np.zeros(64)
    for r in rows:
        got[r.dim - 1] = r.loading
    # only top-8 dims are emitted; compare on those coordinates
    idx = got != 0
    cos = abs(np.dot(got[idx], top[idx])) / (
        np.linalg.norm(got[idx]) * np.linalg.norm(top[idx])
    )
    assert cos > 0.999, cos
    assert abs(rows[0].rayleigh - evals[-1]) / evals[-1] < 0.005


def test_bfs_hops_on_path_graph(spark):
    """The corpus supplier graph is a near-clique (everything at hop 1),
    so the oracle face can't exercise multi-hop frontiers — this does: a
    directed 6-path plus a disconnected pair must produce exact hop
    distances, stop at max_hops, and leave unreachable nodes absent."""
    from f1_bigdata_pyspark_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (8, 9)],
        "src long, dst long",
    )
    got = {r.node: r.d for r in bfs_hops(edges, 1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5,6 beyond max_hops; 8,9 unreachable
    got4 = {r.node: r.d for r in bfs_hops(edges, 1, max_hops=5).collect()}
    assert got4 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}


def test_bellman_ford_prefers_cheap_long_path(spark):
    """The co-part supplier graph is near-complete, so the oracle face
    never has to choose a longer-but-cheaper route — this does: a direct
    expensive edge (1→4, w=10) must lose to the 3-hop cheap chain
    (1→2→3→4, total 3), and relaxation must refine distances as rounds
    increase (1 round sees only the direct edge)."""
    from f1_bigdata_pyspark_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 10.0), (7, 8, 1.0)],
        "src long, dst long, w double",
    )
    one = {r.node: r.dist for r in bellman_ford(edges, 1, rounds=1).collect()}
    assert one[4] == 10.0  # only the direct edge is reachable in 1 round
    full = {r.node: r.dist for r in bellman_ford(edges, 1, rounds=4).collect()}
    assert full == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}  # 7,8 unreachable: absent


def test_label_propagation_separates_two_cliques(spark):
    """The oracle face runs LPA on one dense component; this pins the
    semantics it can't show: two triangles joined by a single bridge edge
    must collapse to their own min labels (communities survive the
    bridge), with the deterministic min-label tiebreak doing the work on
    the bridge endpoints."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    top1 = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("lbl").asc()
    )
    for _ in range(2):
        cnt = (
            sym.join(labels.select(F.col("node").alias("dst"), "lbl"), "dst")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            cnt.withColumn("rnk", F.row_number().over(top1))
            .filter(F.col("rnk") == 1)
            .select("node", "lbl")
        )
    got = {r.node: r.lbl for r in labels.collect()}
    # Hand-trace of SYNCHRONOUS min-tiebreak LPA (round1: 1→2, 2→1, 3→1,
    # 4→3, 5→4, 6→4; round2 from those): clique A collapses to 1;
    # node 4 keeps 4 (two neighbours voted 4) while 5/6 see {3,4} and the
    # min tiebreak picks the bridge-leaked 3 — the deterministic
    # oscillation sync LPA is known for, which is exactly what the
    # unrolled-CTE oracle must reproduce step for step.
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_cusum_drawdown_identity_matches_sequential(spark, sf_smoke):
    """CUSUM face's relational drawdown identity vs the literal
    sequential recursion S_t = max(0, S_{t-1} + d_t) replayed in Python
    over the same quantized deltas — guards the shared-oracle blind spot
    (both engines implement the same identity; this pins the identity
    itself)."""
    from f1_bigdata_pyspark_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_smoke, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sd"),
    )
    rows = (
        ev.join(stats, "event_type")
        .select(
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.round(
                (F.col("value") - F.col("mu") - F.col("sd") / 2) * 1000000.0, 0
            )
            .cast("long")
            .alias("d"),
        )
        .collect()
    )
    seq_max: dict[str, int] = {}
    state: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.ts_us, r.event_id)):
        s = max(0, state.get(r.event_type, 0) + r.d)
        state[r.event_type] = s
        seq_max[r.event_type] = max(seq_max.get(r.event_type, 0), s)

    from f1_bigdata_pyspark_spark.queries.registry import get_query

    got = {
        r.event_type: round(r.max_cusum, 6)
        for r in get_query("value_cusum_changepoint").fn(spark, sf_smoke).collect()
    }
    want = {k: round(v / 1000000.0, 6) for k, v in seq_max.items()}
    assert got == want


def test_mp4_parser_on_genuine_file(spark):
    """Independent naive-form check for parse_mp4_timing: an ISO-BMFF file
    struct-packed by hand (ftyp + moov/mvhd v0 + mdat) — not the hex
    synthesis path — plus a WAV-shaped decoy that must be dropped."""
    import struct

    from f1_bigdata_pyspark_spark.multimodal.binary_ops import (
        parse_mp4_timing,
        parse_wav_timing,
    )

    def box(tag, payload):
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def mp4(timescale, duration, mdat_first=False, mdat_body=b"\x11" * 16):
        mvhd = box(
            b"mvhd",
            struct.pack(">B3x", 0)          # version 0 + flags
            + struct.pack(">II", 0, 0)       # created, modified
            + struct.pack(">II", timescale, duration)
            + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
            + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
        moov, mdat = box(b"moov", mvhd), box(b"mdat", mdat_body)
        return ftyp + (mdat + moov if mdat_first else moov + mdat)

    media = spark.createDataFrame(
        [
            (1, bytearray(mp4(90000, 450000))),   # 5 s at 90 kHz
            (2, bytearray(mp4(1000, 1500))),      # 1.5 s at ms timescale
            (3, bytearray(b"RIFF\x24\x00\x00\x00WAVEnot-a-real-fmt")),
            # adversarial layouts for the box WALK (a raw 'mvhd' substring
            # scan reads garbage on both): mdat precedes moov, and the mdat
            # body embeds the literal 'mvhd' tag bytes plus a fake payload
            (4, bytearray(mp4(600, 2400, mdat_first=True,
                              mdat_body=b"mvhd" + struct.pack(">6I", 0, 0, 0,
                                                              7, 9, 0)))),
        ],
        "media_id long, payload binary",
    )
    got = {r.media_id: r.asDict() for r in parse_mp4_timing(media).collect()}
    assert set(got) == {1, 2, 4}
    assert (got[1]["timescale"], got[1]["duration_units"]) == (90000, 450000)
    assert got[1]["duration_ms"] == 5000.0
    assert got[2]["duration_ms"] == 1500.0
    # the walk skipped the decoy mdat (with its embedded 'mvhd' bytes and
    # fake timescale=7/duration=9) and parsed the real moov that follows it
    assert (got[4]["timescale"], got[4]["duration_units"]) == (600, 2400)
    assert got[4]["duration_ms"] == 4000.0
    # the triad parsers partition the corpus: the mp4 payloads are
    # invisible to the WAV path (no RIFF magic), and the RIFF decoy is
    # invisible to the mp4 path (no ftyp) — magic dispatch, not extension
    assert parse_wav_timing(media.filter(F.col("media_id") < 3)).count() == 0


def test_temporal_reachability_blocks_backward_time(spark):
    """Independent pin for the time-respecting semantic: on a hand graph
    where 1→2 happens at day 10 but 2→3 happened at day 5, static BFS
    reaches 3 while temporal reachability must NOT (you arrive at 2 after
    the 2→3 contact already happened); a later copy of the same edge
    (2→3 at day 20) restores reach. Replays the face's relaxation loop."""
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.utils import materialize

    def earliest_arrivals(edge_rows, source, rounds=3):
        edges = spark.createDataFrame(
            edge_rows, "src long, dst long, t long"
        )
        arr = spark.createDataFrame([(source, 0)], "node long, arr long")
        for _ in range(rounds):
            relax = (
                edges.join(
                    arr.select(F.col("node").alias("src"), "arr"), "src"
                )
                .filter(F.col("t") >= F.col("arr"))
                .select(F.col("dst").alias("node"), F.col("t").alias("arr"))
            )
            arr = materialize(
                arr.unionByName(relax).groupBy("node").agg(
                    F.min("arr").alias("arr")
                )
            )
        return {r.node: r.arr for r in arr.collect()}

    blocked = earliest_arrivals([(1, 2, 10), (2, 3, 5)], 1)
    assert blocked == {1: 0, 2: 10}  # 3 unreachable: 2→3 predates arrival

    restored = earliest_arrivals([(1, 2, 10), (2, 3, 5), (2, 3, 20)], 1)
    assert restored == {1: 0, 2: 10, 3: 20}  # the later copy carries it


def test_hits_bigint_iteration_matches_numpy(spark):
    """Independent pin for the HITS face's exact-integer iteration: on a
    hand bipartite graph, two un-normalized rounds in numpy integer
    arithmetic (h2 = A·Aᵀ·A·1) must equal the relational build, and the
    ranking must match normalized HITS (normalization is a global scalar,
    so deferring it cannot reorder)."""
    import numpy as np
    from pyspark.sql import functions as F

    edges = [(1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12)]
    sp = spark.createDataFrame(edges, "s long, p long")
    a1 = sp.groupBy("p").agg(F.count(F.lit(1)).alias("a"))
    h1 = sp.join(a1, "p").groupBy("s").agg(F.sum("a").alias("h"))
    a2 = sp.join(h1, "s").groupBy("p").agg(F.sum("h").alias("a"))
    h2 = sp.join(a2, "p").groupBy("s").agg(F.sum("a").alias("h"))
    got = {r.s: r.h for r in h2.collect()}

    supp, parts = sorted({s for s, _ in edges}), sorted({p for _, p in edges})
    A = np.zeros((len(supp), len(parts)), dtype=np.int64)
    for s, p in edges:
        A[supp.index(s), parts.index(p)] = 1
    # h0 = 1 over suppliers; a1 = Aᵀh0; h1 = Aa1; a2 = Aᵀh1; h2 = Aa2
    want_vec = A @ (A.T @ (A @ (A.T @ np.ones(len(supp), dtype=np.int64))))
    want = {s: int(v) for s, v in zip(supp, want_vec)}
    assert got == want
    # rank order equals normalized HITS (same vector scaled)
    ranks = sorted(got, key=lambda s: (-got[s], s))
    norm = want_vec / want_vec.sum()
    ranks_norm = [s for _, s in sorted(zip(-norm, supp))]
    assert ranks == ranks_norm


def test_theil_sen_resists_outlier_where_ols_breaks(spark):
    """The point of Theil–Sen: on y = 2t with ONE wild outlier, the
    median-of-pairwise-slopes must stay 2.0 while the OLS slope is dragged
    far off. Replays the face's pair-join shape on a hand series."""
    from pyspark.sql import functions as F

    rows = [(t, 2.0 * t) for t in range(9)] + [(9, 500.0)]
    d = spark.createDataFrame(rows, "t int, y double")
    a = d.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = d.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    slopes = (
        a.crossJoin(b)
        .filter(F.col("tb") > F.col("ta"))
        .select(
            ((F.col("yb") - F.col("ya")) / (F.col("tb") - F.col("ta"))).alias(
                "slope"
            )
        )
    )
    ts = slopes.agg(F.percentile("slope", F.lit(0.5)).alias("m")).head()["m"]
    assert abs(ts - 2.0) < 0.3
    ols = d.agg(
        (F.covar_pop("t", "y") / F.var_pop("t")).alias("b")
    ).head()["b"]
    assert ols > 10  # OLS is destroyed by the single outlier


def test_markov_stationary_power_iteration_matches_numpy(spark, sf_smoke):
    """Markov face pin: the 3-round relational power iteration must match
    numpy's p0·P³ computed from the same transition counts, and each
    iterate must stay a probability vector (sums to 1)."""
    import numpy as np

    from f1_bigdata_pyspark_spark.queries.registry import get_query
    from f1_bigdata_pyspark_spark.catalog import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_smoke, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    cnt = {
        (r.prev, r.event_type): r.n
        for r in t.groupBy("prev", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    types = sorted({a for a, _ in cnt} | {b for _, b in cnt})
    P = np.zeros((len(types), len(types)))
    for (a, b), n in cnt.items():
        P[types.index(a), types.index(b)] = n
    P = P / P.sum(axis=1, keepdims=True)
    p = np.full(len(types), 1.0 / len(types))
    for _ in range(3):
        p = p @ P
        assert abs(p.sum() - 1.0) < 1e-9
    want = {ty: round(float(v), 6) for ty, v in zip(types, p)}
    got = {
        r.event_type: r.stationary_p
        for r in get_query("event_markov_stationary").fn(spark, sf_smoke).collect()
    }
    assert got == want


def test_kaplan_meier_hand_cohort(spark, tmp_path):
    """KM pin on a hand cohort vs the textbook product-limit computation:
    5 users, purchases at days 1 and 3, censorings at days 2, 3 and 5 —
    S(3) = (1 - 1/5)·(1 - 1/3) = 8/15 worked by hand (day-3 risk set is
    {3,4,5}: user 1 died day 1, user 2 censored day 2). Builds a tiny
    events parquet and runs the registered face end to end."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.queries.registry import get_query

    base = dt.datetime(2024, 1, 1)
    rows = []  # (event_id, ts, user_id, event_type)
    eid = 0

    def ev(user, day, typ):
        nonlocal eid
        eid += 1
        rows.append((eid, base + dt.timedelta(days=day), user, typ))

    for u in range(1, 6):
        ev(u, 0, "view")                      # everyone's origin at day 0
    ev(1, 1, "purchase")                      # death day 1
    ev(2, 2, "view")                          # censored day 2
    ev(3, 3, "purchase")                      # death day 3
    ev(4, 3, "view")                          # censored day 3
    ev(5, 5, "view")                          # censored day 5

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = tmp_path / "km"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    got = {
        r.horizon: (r.n_users, r.survival)
        for r in get_query("kaplan_meier_survival").fn(spark, str(d)).collect()
    }
    # deaths: day1 (n_at_risk=5, d=1), day3 (at risk=3 [users 3,4,5], d=1)
    # S(3)=S(7)=S(14) = (4/5)·(2/3) ≈ 0.533333
    s3 = round((4 / 5) * (2 / 3), 6)
    assert got == {3: (5, s3), 7: (5, s3), 14: (5, s3)}


def test_session_window_overlap_skips_null_users(spark, tmp_path):
    """``session_window_overlap`` on a hand table where a NULL-user_id
    session overlaps W1 next to user 1's: the NULL session counts in
    ``n_sessions`` but adds no user to ``n_users``, in the face and in its
    DuckDB twin alike (the test tables hold no NULL user_id)."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.queries.registry import get_query
    from tests.oracle_harness import compare, run_oracle, run_spark

    t1, t3 = dt.datetime(2024, 1, 6, 10), dt.datetime(2024, 1, 26, 8)
    five = dt.timedelta(minutes=5)
    # (ts, user_id): one session each for user 1 and NULL in W1, user 2 in W3
    rows = [(t1, 1), (t1 + five, 1), (t1, None), (t1 + five, None), (t3, 2)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, len(rows) + 1), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{tmp_path / 'events.parquet'}')"
    )

    q = get_query("session_window_overlap")
    sres = run_spark(q.fn, spark, str(tmp_path))
    assert compare(q.name, sres, run_oracle(con, q.oracle)) == []
    cols, got = sres
    assert cols == ["win_name", "n_sessions", "n_users"]
    assert sorted(got) == [("W1", 2, 1), ("W3", 1, 1)]


def test_attribution_models_conserve_revenue(spark, sf_smoke):
    """Credit conservation: every attribution model must hand out exactly
    the revenue of the purchases that HAVE at least one touch — no credit
    invented, none lost. Checks Σ credit equal across first/last/linear
    and equal to the attributable purchase total recomputed independently."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from f1_bigdata_pyspark_spark.catalog import load_table
    from f1_bigdata_pyspark_spark.queries.registry import get_query

    rows = get_query("multitouch_attribution").fn(spark, sf_smoke).collect()
    tot_first = round(sum(r.first_touch_credit for r in rows), 2)
    tot_last = round(sum(r.last_touch_credit for r in rows), 2)
    tot_linear = round(sum(r.linear_credit for r in rows), 2)
    assert tot_first == tot_last
    assert abs(tot_linear - tot_first) < 0.05  # 1/k rationals re-rounded

    ev = load_table(spark, sf_smoke, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = ev.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(run)
        .alias("pnum"),
    )
    # purchases whose window (pnum) contains >= 1 non-purchase touch
    touch_wins = (
        seq.filter(F.col("event_type") != "purchase")
        .select("user_id", (F.col("pnum") + 1).alias("win"))
        .distinct()
    )
    attributable = (
        seq.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("pnum").alias("win"), "cents")
        .join(touch_wins, ["user_id", "win"], "left_semi")
        .agg(F.sum("cents").alias("c"))
        .head()["c"]
    )
    assert tot_first == round(attributable / 100.0, 2)


def test_asof_join_null_ts_state_never_matches(spark):
    """A NULL-ts state row must match NO probe (s.ts <= p.ts is false
    under three-valued logic) — the window form would otherwise order it
    first and leak it into every probe (regression)."""
    import datetime

    from f1_bigdata_pyspark_spark.operators.asof import (
        asof_join_backward,
        asof_join_forward,
    )

    d = datetime.datetime
    probes = spark.createDataFrame(
        [("u", d(2024, 1, 2))], "k string, ts timestamp"
    )
    states = spark.createDataFrame(
        [("u", None, "ghost"), ("u", d(2024, 1, 1), "real")],
        "k string, ts timestamp, v string",
    )
    (b,) = asof_join_backward(probes, states, "k", "ts", ["v"]).collect()
    assert b.v == "real"
    ghost_only = states.filter("v = 'ghost'")
    (b2,) = asof_join_backward(
        probes, ghost_only, "k", "ts", ["v"]
    ).collect()
    assert b2.v is None
    (f2,) = asof_join_forward(
        probes, ghost_only, "k", "ts", ["v"]
    ).collect()
    assert f2.v is None


def test_multisets_equal_probe(spark):
    """r12: the one-job signed-union equality probe that replaced the
    two-exceptAll-count pattern across the streaming/IVF faces. Pins the
    exact multiset semantics exceptAll gave: multiplicity differences and
    one-sided rows fail, empty==empty passes."""
    from f1_bigdata_pyspark_spark.utils import multisets_equal

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string")

    a = [(1, "a"), (2, "b"), (2, "b")]
    assert multisets_equal(df(a), df(list(reversed(a))))
    # multiplicity mismatch (same SET): the old set+count test on full
    # rows also caught this via counts; signed-union catches it per key
    assert not multisets_equal(df(a), df([(1, "a"), (1, "a"), (2, "b")]))
    assert not multisets_equal(df(a), df(a + [(3, "c")]))
    assert not multisets_equal(df(a[:2]), df(a))
    empty = df([])
    assert multisets_equal(empty, empty)
    assert not multisets_equal(empty, df(a))
    assert not multisets_equal(df(a), empty)
    # NULL rows group like exceptAll treats them: equal on both sides
    n = [(None, None), (1, "a")]
    assert multisets_equal(df(n), df(list(reversed(n))))
    assert not multisets_equal(df(n), df([(1, "a")]))


def test_multisets_equal_refuses_what_it_cannot_compare(spark):
    """The probe fails loudly instead of answering a different question:
    a column only one side has would be dropped by the column alignment
    (so differing frames compared equal), and a column named like the
    probe's own sign/difference columns would be overwritten."""
    import pytest

    from f1_bigdata_pyspark_spark.utils import multisets_equal

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="column sets differ"):
        multisets_equal(a, a.withColumn("extra", a.k * 2))
    with pytest.raises(ValueError, match="column sets differ"):
        multisets_equal(a.withColumn("extra", a.k * 2), a)
    for name in ("__sgn", "__d"):
        s = a.withColumn(name, a.k)
        with pytest.raises(ValueError, match="reserved column names"):
            multisets_equal(s, s)
    # same columns in another order are still compared by name
    assert multisets_equal(a, a.select("v", "k"))
