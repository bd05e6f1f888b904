"""Text-analysis queries over the documents table (LLM-pipeline scope).

Token counting, quality scoring, language-ID heuristic, fingerprinting —
all built-in expressions (split / filter-lambda / md5), no Python UDFs, so
a 100 TB corpus pass stays in whole-stage codegen with one aggregate shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_score,
    md5_long,
    quality_features,
    token_count,
    tokens,
)
from f1_bigdata_pyspark_spark.operators.bpe import bpe_apply, bpe_merge_table
from f1_bigdata_pyspark_spark.operators.dedup import (
    _raw_shingles,
    raw_shingle_hashes,
)
from f1_bigdata_pyspark_spark.operators.join_policy import broadcast_if_small
from f1_bigdata_pyspark_spark.queries.registry import query
from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable
from f1_bigdata_pyspark_spark.utils import materialize, scratch_dir


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _n_stopwords(toks: Column) -> Column:
    """How many of the array ``toks``' entries are ``STOPWORDS``."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


# --------------------------------------------------------------------------
# Q: token_stats_by_lang — token counting rolled up per language.
# --------------------------------------------------------------------------
@query(
    "token_stats_by_lang",
    oracle="""
SELECT
  lang,
  count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
  round(avg(n_chars), 6) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    bench=True,
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = token_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tokens).cast("long").alias("total_tokens"),
            F.round(F.avg(n_tokens), 6).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        # no trailing display orderBy (r11): order-insensitive hash gate.
    )


# --------------------------------------------------------------------------
# Q: doc_quality — per-source quality scoring (mean word length, stopword
# ratio), the filter stage of a training-data pipeline.
# --------------------------------------------------------------------------
@query(
    "doc_quality",
    oracle=f"""
WITH q AS (
  SELECT
    source,
    length(text) AS n_chars_m,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '),
        t -> t IN ({_sql_list(STOPWORDS)}))) AS n_stop
  FROM documents
)
SELECT
  source,
  count(*) AS n_docs,
  round(avg(CASE WHEN n_tokens = 0 THEN NULL
                 ELSE (n_chars_m - (n_tokens - 1)) * 1.0 / n_tokens END), 6)
    AS avg_word_len,
  round(avg(CASE WHEN n_tokens = 0 THEN NULL
                 ELSE n_stop * 1.0 / n_tokens END), 6) AS avg_stopword_ratio
FROM q
GROUP BY source
ORDER BY source
""",
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    enriched = docs.select(
        "source",
        feats["mean_word_len"].alias("mean_word_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("mean_word_len"), 6).alias("avg_word_len"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: lang_id_confusion — marker-lexicon language-ID heuristic vs the labeled
# lang: argmax over per-language marker hit counts (ties → lexicographic
# first, encoded identically in both engines via the greatest/CASE chain).
# --------------------------------------------------------------------------
_LANGS = sorted(LANG_MARKERS)  # de, en, es, fr, zh — tie-break order


def _duckdb_lang_pred() -> str:
    scores = ",\n    ".join(
        f"len(list_filter(string_split(text, ' '), t -> t IN "
        f"({_sql_list(LANG_MARKERS[lg])}))) AS score_{lg}"
        for lg in _LANGS
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in _LANGS) + ")"
    case = " ".join(f"WHEN score_{lg} = best THEN '{lg}'" for lg in _LANGS)
    return f"""
WITH s AS (
  SELECT lang,
    {scores}
  FROM documents
), b AS (
  SELECT lang, {best} AS best,
         CASE {case} END AS lang_pred
  FROM s
)
SELECT lang, lang_pred, count(*) AS n_docs
FROM b
GROUP BY lang, lang_pred
ORDER BY lang, lang_pred
"""


@query("lang_id_confusion", oracle=_duckdb_lang_pred())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        *[lang_score(F.col("text"), lg).alias(f"score_{lg}") for lg in _LANGS],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in _LANGS])
    pred = F.when(F.col(f"score_{_LANGS[0]}") == best, F.lit(_LANGS[0]))
    for lg in _LANGS[1:]:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return (
        scored.withColumn("lang_pred", pred)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


# --------------------------------------------------------------------------
# Q: fingerprint_stats — md5 document fingerprinting per source: doc counts
# vs distinct fingerprints (the dedup-rate report of a corpus pipeline;
# reference analog: check_counts.py's count-vs-distinct sanity probes).
# --------------------------------------------------------------------------
@query(
    "fingerprint_stats",
    oracle="""
SELECT
  source,
  count(*) AS n_docs,
  count(DISTINCT md5(lower(trim(text)))) AS n_distinct_fp,
  count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_exact_dups
FROM documents
GROUP BY source
ORDER BY source
""",
)
def fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: regex_token_stats — BPE-ish regex tokenization (letter runs / digit
# runs / single punctuation marks — the pre-tokenizer split most BPE vocab
# pipelines apply before merges), vs the whitespace count. Pure
# regexp_extract_all + higher-order filter: JVM-side, codegen, one shuffle.
# --------------------------------------------------------------------------
_BPE_SPLIT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "regex_token_stats",
    oracle=rf"""
WITH r AS (
  SELECT source,
         regexp_extract_all(text, '{_BPE_SPLIT}') AS rt
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(rt)) AS BIGINT) AS total_rtokens,
       round(avg(len(rt)), 6) AS avg_rtokens,
       round(avg(len(list_filter(rt, t -> NOT regexp_matches(t, '^[A-Za-z0-9]')))
                 * 1.0 / len(rt)), 6) AS avg_punct_ratio
FROM r
GROUP BY source
ORDER BY source
""",
)
def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rt = F.regexp_extract_all(F.col("text"), F.lit(_BPE_SPLIT), 0)
    n_rt = F.size(rt)
    n_punct = F.size(F.filter(rt, lambda t: ~t.rlike("^[A-Za-z0-9]")))
    return (
        docs.select("source", n_rt.alias("n_rt"), n_punct.alias("n_punct"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_rt").cast("long").alias("total_rtokens"),
            F.round(F.avg("n_rt"), 6).alias("avg_rtokens"),
            F.round(
                F.avg(
                    F.col("n_punct").cast("double") / F.col("n_rt").cast("double")
                ),
                6,
            ).alias("avg_punct_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: rolling_fingerprint_stats — Karp–Rabin-style rolling hash over the
# token stream: fold acc = (acc·131 + (md5_60(token) mod 2^20)) mod P. All
# exact int64 arithmetic (portable, oracle-checkable), computed by a single
# JVM-side F.aggregate fold per document — no explode, no extra shuffle.
# Unlike the md5-of-whole-text fingerprint this composes incrementally, the
# shape a streaming / chunked-document pipeline needs.
# --------------------------------------------------------------------------
@query(
    "rolling_fingerprint_stats",
    oracle="""
WITH fp AS (
  SELECT source,
         list_reduce(
           list_transform(string_split(text, ' '),
                          t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                               % 1048576),
           (a, x) -> (a * 131 + x) % 2147483647
         ) AS rfp
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT rfp) AS n_distinct_rolling
FROM fp
GROUP BY source
ORDER BY source
""",
)
def rolling_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Spark's aggregate starts at 0: (0·131 + x0) mod P == x0, identical to
    # DuckDB's list_reduce seeding with the first transformed element.
    rfp = F.aggregate(
        F.transform(tokens(F.col("text")), lambda t: md5_long(t) % 1_048_576),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % 2_147_483_647,
    )
    return (
        docs.select("source", rfp.alias("rfp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rfp").alias("n_distinct_rolling"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: train_test_split_stats — reproducible corpus splitting: split =
# md5-derived hash of doc_id mod 100 against fixed cut points (80/10/10).
# Hash-based (not rand()) so the assignment is a pure function of the id —
# stable across runs, engines, partitionings, and re-shards, which is what
# a training pipeline needs for leak-free splits. Oracle computes the same
# split from the same math.
# --------------------------------------------------------------------------
@query(
    "train_test_split_stats",
    oracle="""
WITH s AS (
  SELECT source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s
GROUP BY source, split
ORDER BY source, split
""",
)
def train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Q: corpus_mixture_sample — deterministic corpus MIXING: per-source
# sampling rates (the up/down-weighting step that turns raw crawl
# proportions into a training mixture), decided by the md5-derived hash of
# the doc id against the source's rate — a pure function of (id, rate), so
# the same mixture comes out on every run, engine, and shard layout, and
# rerunning never double-samples. Rates here: tier A (src0-4) keep all,
# tier B (src5-9) keep half, long tail keep a quarter.
# --------------------------------------------------------------------------
_MIX_RATE_SQL = """
CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 10000
     WHEN source IN ('src5','src6','src7','src8','src9') THEN 5000
     ELSE 2500 END
"""


@query(
    "corpus_mixture_sample",
    oracle=f"""
WITH s AS (
  SELECT source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS bucket,
         {_MIX_RATE_SQL} AS rate_bp
  FROM documents
)
SELECT source,
       count(*) AS n_total,
       CAST(count_if(bucket < rate_bp) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN bucket < rate_bp THEN n_chars END), 0)
            AS BIGINT) AS kept_chars
FROM s
GROUP BY source
ORDER BY source
""",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 10000
    tier_a = F.col("source").isin(*[f"src{i}" for i in range(5)])
    tier_b = F.col("source").isin(*[f"src{i}" for i in range(5, 10)])
    rate_bp = F.when(tier_a, 10000).when(tier_b, 5000).otherwise(2500)
    kept = bucket < rate_bp
    return (
        docs.select("source", "n_chars", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("kept")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_chars"))), F.lit(0)
            ).alias("kept_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: redaction_stats — pattern-based scrubbing (the PII-redaction shape of
# a training-data pipeline): digit runs collapse to <NUM>, long opaque
# tokens (12+ word chars) to <TOK>, via regexp_replace — pure JVM
# expressions, one scan, no UDFs. Reports per-source how many documents
# changed and how many characters were removed; the oracle applies the
# identical RE2-compatible patterns.
# --------------------------------------------------------------------------
@query(
    "redaction_stats",
    oracle=r"""
WITH r AS (
  SELECT source, n_chars,
         regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                        '\w{12,}', '<TOK>', 'g') AS red
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(count_if(length(red) <> n_chars) AS BIGINT) AS n_changed,
       CAST(sum(n_chars) - sum(length(red)) AS BIGINT) AS chars_delta
FROM r
GROUP BY source
ORDER BY source
""",
)
def redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[0-9]+", "<NUM>"),
        r"\w{12,}",
        "<TOK>",
    )
    r = docs.select("source", "n_chars", F.length(red).alias("red_len"))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("red_len") != F.col("n_chars")).alias("n_changed"),
            (F.sum("n_chars") - F.sum("red_len")).alias("chars_delta"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: negative_sampling_pairs — deterministic negative sampling for
# contrastive training data: each anchor document draws k=4 pseudo-random
# negatives via the portable md5 hash of (doc_id, draw index), mod the key
# span, keeping only draws that hit an existing non-self document (exact
# semantics DuckDB replicates bit-for-bit — no rand()). At 100 TB this is
# a pure map over anchors plus a broadcast-able semi-join on the candidate
# ids; nothing global, no sampling state, fully re-runnable.
# --------------------------------------------------------------------------
@query(
    "negative_sampling_pairs",
    oracle="""
WITH span AS (SELECT max(doc_id) AS mx FROM documents),
draws AS (
  SELECT d.doc_id,
         i,
         1 + CAST('0x' || substr(md5(d.doc_id || '#' || i), 1, 15) AS BIGINT)
             % (SELECT mx FROM span) AS neg_id
  FROM documents d
  CROSS JOIN (SELECT unnest(range(4)) AS i)
  WHERE d.doc_id <= 50
)
SELECT doc_id, i AS draw, neg_id
FROM draws
WHERE neg_id <> doc_id
  AND neg_id IN (SELECT doc_id FROM documents)
ORDER BY doc_id, draw
""",
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    span = ids.agg(F.max("doc_id").alias("mx"))
    anchors = ids.filter(F.col("doc_id") <= 50)
    draws = (
        anchors.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("draw")
        )
        .join(F.broadcast(span))  # 1-row span: broadcast product
        .select(
            "doc_id",
            "draw",
            (
                F.lit(1)
                + md5_long(F.concat_ws("#", F.col("doc_id"), F.col("draw")))
                % F.col("mx")
            ).alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    return (
        draws.join(
            F.broadcast(ids.select(F.col("doc_id").alias("neg_id"))),
            "neg_id",
            "left_semi",
        )
        .select("doc_id", "draw", "neg_id")
        .orderBy("doc_id", "draw")
    )


# --------------------------------------------------------------------------
# Q: udtf_chunk_stats — Python UDTF face (Spark 4 user-defined TABLE
# function): fixed-size token chunking of documents — the canonical
# LLM-context-window preparation step — as a lateral table function
# yielding one row per chunk. The chunking rule (split on single spaces,
# 32 tokens per chunk) is deterministic, so DuckDB replicates it exactly
# with list_slice over generate_series — a full hash check, unusual for a
# Python-UDF-family operator.
# Scale notes: a UDTF is row-at-a-time Python — the SLOW path (SURVEY.md
# §2.10); it exists to pin the API face and its exact semantics. The
# production chunker for 100 TB is the relational twin (posexplode +
# integer-division bucket + concat_ws groupBy), same shape as
# operators/dedup._raw_shingles.
# --------------------------------------------------------------------------
@query(
    "udtf_chunk_stats",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE doc_id <= 30
),
chunks AS (
  SELECT doc_id,
         i AS chunk_idx,
         list_slice(toks, i * 32 + 1, (i + 1) * 32) AS chunk_toks
  FROM t, (SELECT unnest(range(100)) AS i)
  WHERE i * 32 < len(toks)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk_toks) AS BIGINT) AS n_tokens,
       md5(array_to_string(chunk_toks, ' ')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def udtf_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # useArrow: without it a Python UDTF plans as BatchEvalPythonUDTF —
    # the pickled row-at-a-time path; Arrow keeps it batch-evaluated like
    # every other Python face here (audited registry-wide in
    # tests/test_plans.py::test_no_query_uses_row_at_a_time_python)
    @udtf(
        returnType=(
            "doc_id: bigint, chunk_idx: int, n_tokens: bigint, chunk: string"
        ),
        useArrow=True,
    )
    class ChunkText:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(0, (len(toks) + 31) // 32):
                chunk = toks[i * 32 : (i + 1) * 32]
                yield doc_id, i, len(chunk), " ".join(chunk)

    spark.udtf.register("chunk_text", ChunkText)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.n_tokens, md5(c.chunk) AS chunk_md5
        FROM docs_v, LATERAL chunk_text(doc_id, text) c
        WHERE docs_v.doc_id <= 30
        ORDER BY c.doc_id, c.chunk_idx
        """
    )


# --------------------------------------------------------------------------
# Q: bottomk_sample_merge — mergeable uniform sampling (bottom-k sketch):
# assign every event a deterministic md5 priority, keep the k smallest per
# day (a window over the daily partition), then reduce the merged daily
# sketches to the global bottom-k. Bottom-k is the mergeable form of
# uniform-without-replacement sampling: min-k of a union == min-k of the
# per-partition min-k's, so a 100 TB corpus samples with one narrow pass
# per partition plus a tiny merge — no global shuffle of raw rows. The
# oracle computes the global bottom-k DIRECTLY over all events; equality
# proves the merge identity, same discipline as incremental_daily_rollup.
# --------------------------------------------------------------------------
@query(
    "bottomk_sample_merge",
    oracle="""
SELECT CAST(rank AS BIGINT) AS rank, event_id
FROM (
  SELECT event_id,
         row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                         AS BIGINT), event_id) AS rank
  FROM events
)
WHERE rank <= 16
ORDER BY rank
""",
)
def bottomk_sample_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    prio = events.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        md5_long(F.col("event_id").cast("string")).alias("priority"),
    )
    daily_w = Window.partitionBy("day").orderBy("priority", "event_id")
    daily_bottomk = prio.select(
        "*", F.row_number().over(daily_w).alias("rn")
    ).filter(F.col("rn") <= 16)
    global_w = Window.orderBy("priority", "event_id")
    return (
        daily_bottomk.select(
            F.row_number().over(global_w).cast("long").alias("rank"), "event_id"
        )
        .filter(F.col("rank") <= 16)
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Q: tfidf_topk_retrieval — classic TF-IDF relevance scoring, fully
# relational: token TF per doc (explode + groupBy), smoothed IDF from
# document frequency, score = sum over query terms of tf * idf, top-10
# docs. No vocabulary object, no fitted model — the "model" IS a table of
# per-term IDF weights, which is how term-weighted retrieval should look
# on an engine: at 100 TB the IDF table is a broadcast dim keyed by term,
# the TF table a narrow groupBy over the posting explosion, and scoring a
# broadcast join + groupBy — one shuffle per aggregate, nothing global.
# Rounding before ranking keeps the rank stable cross-engine.
# --------------------------------------------------------------------------
@query(
    "tfidf_topk_retrieval",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (
  SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t
),
n_docs AS (SELECT count(*) AS n FROM documents),
idf AS (
  SELECT t, ln((SELECT n FROM n_docs) / (1.0 + count(DISTINCT doc_id))) AS idf
  FROM toks GROUP BY t
),
scores AS (
  SELECT doc_id, round(sum(tf * idf), 6) AS score
  FROM tf JOIN idf USING (t)
  WHERE t IN ('fast', 'join', 'shuffle')
  GROUP BY doc_id
)
SELECT doc_id, score
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT 10
""",
)
def tfidf_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.count()  # scalar for the IDF constant (metadata-cheap)
    idf = toks.groupBy("t").agg(
        F.log(
            F.lit(float(n_docs)) / (F.lit(1.0) + F.countDistinct("doc_id"))
        ).alias("idf")
    )
    query_terms = ("fast", "join", "shuffle")
    return (
        tf.filter(F.col("t").isin(*query_terms))
        .join(F.broadcast(idf.filter(F.col("t").isin(*query_terms))), "t")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q: split_contamination_check — train/test DECONTAMINATION audit: after
# the deterministic hash split (same md5 rule as train_test_split_stats),
# count test documents sharing any 3-gram shingle with a train document,
# per source. This is the n-gram-overlap contamination check every
# training-data pipeline runs before evaluation; here it is one
# distinct-shingle self-join, scaled by hashing shingles BEFORE the join
# (8-byte keys, not strings) — the same discipline as the MinHash path.
# The oracle replicates split, shingles, and overlap in SQL.
# --------------------------------------------------------------------------
@query(
    "split_contamination_check",
    oracle="""
WITH splitdoc AS (
  SELECT doc_id, source, text,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 80
              THEN 'train' ELSE 'test' END AS split
  FROM documents
),
toks AS (
  SELECT doc_id, split, source, string_split(text, ' ') AS w FROM splitdoc
),
shingles AS (
  SELECT DISTINCT doc_id, split, source,
         CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15)
              AS BIGINT) AS sh
  FROM toks, (SELECT unnest(range(1, (SELECT max(len(string_split(text, ' '))) FROM documents) + 1)) AS i)
  WHERE i + 2 <= len(w)
),
contaminated AS (
  SELECT DISTINCT te.doc_id
  FROM shingles te
  JOIN (SELECT DISTINCT sh FROM shingles WHERE split = 'train') tr
    ON te.sh = tr.sh
  WHERE te.split = 'test'
)
SELECT source,
       CAST(count(*) FILTER (split = 'test') AS BIGINT) AS n_test_docs,
       CAST(count(*) FILTER (split = 'test'
            AND doc_id IN (SELECT doc_id FROM contaminated)) AS BIGINT)
         AS n_contaminated
FROM splitdoc
GROUP BY source
ORDER BY source
""",
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        md5_long(F.col("doc_id").cast("string")) % 100 < 80, "train"
    ).otherwise("test")
    docs = docs.withColumn("split", split)
    # Raw 60-bit hashes — the SAME domain the oracle hashes in. The mod-P
    # form used for MinHash would admit mod-P collisions on the Spark side
    # only (a ~16% birthday chance per testdata regeneration at sf0.1),
    # silently inflating n_contaminated relative to the oracle.
    sh = raw_shingle_hashes(docs, "doc_id", "text", 3)  # distinct (doc, hash)
    labeled = sh.join(
        broadcast_if_small(
            docs.select("doc_id", "split").withColumnRenamed("doc_id", "doc")
        ),
        "doc",
    )
    train_sh = labeled.filter(F.col("split") == "train").select("xm").distinct()
    test_sh = labeled.filter(F.col("split") == "test")
    contaminated = (
        test_sh.join(train_sh, "xm", "left_semi").select("doc").distinct()
    )
    test_docs = docs.filter(F.col("split") == "test")
    return (
        test_docs.join(
            contaminated.withColumnRenamed("doc", "doc_id").withColumn(
                "is_cont", F.lit(1)
            ),
            "doc_id",
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.when(F.col("is_cont").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: bigram_pmi_topk — collocation mining via pointwise mutual information:
# PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent token pairs, top-15
# bigrams with a minimum support floor of 10 (PMI is unstable on rare pairs —
# the floor is part of the operator's contract, not a convenience).
# Everything is counting + one log: two narrow groupBys over the token
# explosion and a broadcast join of unigram counts onto bigram counts. At
# 100 TB the unigram table is the only sharable state and it's tiny; this
# is the standard phrase-vocabulary induction step of a corpus pipeline.
# --------------------------------------------------------------------------
@query(
    "bigram_pmi_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, i AS pos, w[i] AS t, w[i+1] AS t2
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       (SELECT unnest(range(1, (SELECT max(len(string_split(text, ' '))) FROM documents) + 1)) AS i)
  WHERE i <= len(w)
),
uni AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
n_uni AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
big AS (
  SELECT t, t2, count(*) AS c2 FROM toks WHERE t2 IS NOT NULL GROUP BY t, t2
),
n_big AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM big)
SELECT big.t AS w1, big.t2 AS w2, CAST(c2 AS BIGINT) AS n_pair,
       round(ln( (c2 * 1.0 / (SELECT n2 FROM n_big))
                 / ( (ua.c * 1.0 / (SELECT n FROM n_uni))
                   * (ub.c * 1.0 / (SELECT n FROM n_uni)) ) ), 6) AS pmi
FROM big
JOIN uni ua ON big.t = ua.t
JOIN uni ub ON big.t2 = ub.t
WHERE c2 >= 10
ORDER BY pmi DESC, w1, w2
LIMIT 15
""",
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = tok.select("t", F.lead("t").over(w).alias("t2"))
    # unigram counts come straight off the token stream — every token is
    # exactly one pair-head, so this equals counting pairs' t without
    # re-running the window stage for a second consumer
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").cast("long").alias("n"))
    big_all = (
        pairs.filter(F.col("t2").isNotNull())
        .groupBy("t", "t2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    n_big = big_all.agg(F.sum("c2").cast("long").alias("n2"))
    big = big_all.filter(F.col("c2") >= 10)
    ua = uni.select(F.col("t").alias("t"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("t2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c2") / F.col("n2"))
        / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n")))
    )
    return (
        # ua/ub are the FULL unigram vocabulary — 10^4 rows at sf0.1 but
        # 10^8-10^9 distinct tokens on a web-scale corpus, so they are NOT
        # unconditional broadcast dimensions: route through the size policy
        # (under threshold -> map-side join; over -> co-partitioned shuffle
        # join on t/t2, which is the right 100 TB plan since `big` is
        # already keyed on those columns). n_uni/n_big are 1-row scalars.
        big.join(broadcast_if_small(ua), "t")
        .join(broadcast_if_small(ub), "t2")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_big))
        .select(
            F.col("t").alias("w1"),
            F.col("t2").alias("w2"),
            F.col("c2").cast("long").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Q: sequence_packing_stats — LLM batch preparation: pack 32-token chunks
# into 512-token training sequences by contiguous-stream assignment (a
# chunk belongs to the pack containing its START offset in the
# concatenated token stream — deterministic, no bin-packing heuristics to
# diverge between engines). Emits per-pack chunk/token counts and fill
# ratio: the padding-waste report that decides packing strategy.
# Scale: chunk derivation is a pure map (no UDTF — arithmetic on token
# counts); the running offset is a window over the (doc, chunk) order. At
# 100 TB you pack within shards (pack key = (shard, local_pack)) so the
# cumsum window partitions by shard instead of running globally; the
# global form here is the per-shard computation verbatim.
# --------------------------------------------------------------------------
@query(
    "sequence_packing_stats",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         CAST(least(32, n - i * 32) AS BIGINT) AS n_tokens
  FROM t, (SELECT unnest(range(1000)) AS i)
  WHERE i * 32 < n
),
offs AS (
  SELECT doc_id, chunk_idx, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx) - n_tokens AS start_off
  FROM chunks
)
SELECT CAST(floor(start_off / 512.0) AS BIGINT) AS pack_id,
       count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(sum(n_tokens) AS BIGINT) / 512.0, 6) AS fill_ratio
FROM offs
GROUP BY pack_id
ORDER BY pack_id
""",
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / 32).cast("int"))
        ).alias("chunk_idx"),
        "n",
    ).select(
        "doc_id",
        "chunk_idx",
        F.least(F.lit(32), F.col("n") - F.col("chunk_idx") * 32)
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.orderBy("doc_id", "chunk_idx")
    offs = chunks.select(
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    )
    return (
        offs.groupBy(
            F.floor(F.col("start_off") / 512.0).cast("long").alias("pack_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.sum("n_tokens") / 512.0, 6).alias("fill_ratio"),
        )
        .orderBy("pack_id")
    )


# --------------------------------------------------------------------------
# Q: repetition_quality — the Gopher-style repetition signal of a corpus
# quality pipeline: per doc, the duplicate-bigram fraction
# 1 − distinct_bigrams/total_bigrams (high ⇒ boilerplate/spam loops), rolled
# up per source with a flag-rate at the 0.2 threshold. Pure built-ins: one
# bigram stream (shared shingle machinery, n=2), one per-doc aggregate, one
# per-source aggregate — two keyed exchanges total, no Python in the path.
# Docs with <2 tokens carry no bigrams and drop out in BOTH engines.
# At 100 TB this is a standard pre-training filter pass; the per-doc state
# is two counters, so the shuffle moves (doc, int, int) rows only.
# --------------------------------------------------------------------------
@query(
    "repetition_quality",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
big AS (
  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS b
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
),
per AS (
  SELECT doc_id, source,
         count(*) AS n_big,
         count(DISTINCT b) AS n_uniq
  FROM big GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       round(avg(1.0 - n_uniq * 1.0 / n_big), 6) AS avg_dup_frac,
       CAST(sum(CASE WHEN 1.0 - n_uniq * 1.0 / n_big > 0.2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
FROM per
GROUP BY source
ORDER BY source
""",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = _raw_shingles(docs, "doc_id", "text", 2)  # non-distinct bigrams
    per = big.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_big"),
        F.countDistinct("s").alias("n_uniq"),
    )
    dup_frac = F.lit(1.0) - F.col("n_uniq") / F.col("n_big")
    return (
        per.join(
            broadcast_if_small(
                docs.select(F.col("doc_id").alias("doc"), "source")
            ),
            "doc",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(dup_frac), 6).alias("avg_dup_frac"),
            F.sum(F.when(dup_frac > 0.2, 1).otherwise(0))
            .cast("long")
            .alias("n_repetitive"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: doc_char_entropy — Shannon character entropy per doc, the
# perplexity-proxy quality signal of a corpus pipeline: near-zero entropy
# flags repeated-character boilerplate, unusually high entropy flags
# random gibberish / binary-in-text. Relational shape: explode to (doc,
# char) → per-(doc,char) counts → per-doc total via a doc-keyed window →
# H = −Σ (c/n)·log2(c/n) → per-source rollup. Entropy terms are O(1)
# magnitudes summed ~10²-fold, so cross-engine float summation-order noise
# is ~1e-14 — far inside the 6 dp rounding contract (unlike money sums,
# which this repo integer-quantizes). Spark split('') and DuckDB
# string_split_regex('') agree char-for-char (verified incl. the
# empty-string edge).
# --------------------------------------------------------------------------
@query(
    "doc_char_entropy",
    oracle="""
WITH chars AS (
  SELECT doc_id, source, unnest(string_split_regex(text, '')) AS ch
  FROM documents
),
cnt AS (
  SELECT doc_id, source, ch, count(*) AS c FROM chars GROUP BY doc_id, source, ch
),
tot AS (
  SELECT doc_id, sum(c) AS n FROM cnt GROUP BY doc_id
),
ent AS (
  SELECT cnt.doc_id, source,
         -sum((c * 1.0 / n) * log2(c * 1.0 / n)) AS h
  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
  GROUP BY cnt.doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       round(avg(h), 6) AS avg_entropy,
       round(min(h), 6) AS min_entropy,
       round(max(h), 6) AS max_entropy,
       CAST(sum(CASE WHEN h < 3.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_entropy
FROM ent
GROUP BY source
ORDER BY source
""",
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", "source", F.explode(F.split("text", "")).alias("ch")
    )
    cnt = chars.groupBy("doc_id", "source", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / F.col("n")
    ent = (
        cnt.withColumn("n", n)
        .groupBy("doc_id", "source")
        .agg((-F.sum(p * F.log2(p))).alias("h"))
    )
    return (
        ent.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 6).alias("avg_entropy"),
            F.round(F.min("h"), 6).alias("min_entropy"),
            F.round(F.max("h"), 6).alias("max_entropy"),
            F.sum(F.when(F.col("h") < 3.0, 1).otherwise(0))
            .cast("long")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: chunking_with_overlap — the context-window chunker of an embedding /
# RAG pipeline: token windows of W=64 with stride S=48 (16-token overlap),
# last window ragged. Chunk COUNTS and sizes are closed-form integer
# functions of each doc's token count (n_chunks = 1 + ceil(max(n−W,0)/S),
# chunk i holds min(W, n − i·S) tokens), so the whole pass is arithmetic +
# one explode over chunk indices — no token materialization, no shuffle
# before the final rollup. The overlap ratio (duplicated token slots /
# total emitted slots) is THE storage-planning number for the downstream
# embedding store. All-integer math → exact oracle; the sibling UDTF face
# (udtf_chunk_stats) materializes real chunk text where content is needed.
# --------------------------------------------------------------------------
@query(
    "chunking_with_overlap",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n,
         1 + CAST(ceil(greatest(len(string_split(text, ' ')) - 64, 0) / 48.0)
                  AS BIGINT) AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id, source, n,
         least(64, n - i.i * 48) AS chunk_tokens
  FROM d, UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS i(i)
),
per_chunk AS (
  SELECT source,
         count(*) AS total_chunks,
         CAST(sum(chunk_tokens) AS BIGINT) AS total_token_slots
  FROM chunks GROUP BY source
),
per_doc AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens
  FROM d GROUP BY source
)
SELECT source, n_docs, total_chunks, total_token_slots,
       round(total_token_slots / total_chunks / 1.0, 6) AS avg_chunk_tokens,
       round(1.0 - total_tokens * 1.0 / total_token_slots, 6) AS overlap_ratio
FROM per_doc JOIN per_chunk USING (source)
ORDER BY source
""",
)
def chunking_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = 64, 48
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n"),
    ).withColumn(
        "n_chunks",
        (
            F.lit(1)
            + F.ceil(F.greatest(F.col("n") - W, F.lit(0)) / F.lit(float(S)))
        ).cast("long"),
    )
    chunks = d.select(
        "source",
        "n",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias(
            "i"
        ),
    ).withColumn("chunk_tokens", F.least(F.lit(W), F.col("n") - F.col("i") * S))
    per_chunk = chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum("chunk_tokens").cast("long").alias("total_token_slots"),
    )
    per_doc = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
    )
    return (
        per_doc.join(per_chunk, "source")
        .select(
            "source",
            "n_docs",
            "total_chunks",
            "total_token_slots",
            F.round(
                F.col("total_token_slots") / F.col("total_chunks") / 1.0, 6
            ).alias("avg_chunk_tokens"),
            F.round(
                F.lit(1.0) - F.col("total_tokens") / F.col("total_token_slots"),
                6,
            ).alias("overlap_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: weighted_sample_ares — WEIGHTED sampling without replacement
# (Efraimidis–Spirakis A-Res), the length-weighted cousin of
# bottomk_sample_merge: each doc draws u ∈ (0,1) from its md5 hash and
# ranks by ln(u)/weight (monotone equivalent of u^(1/w)); the top-k by
# that key is a weighted sample where longer docs (weight = n_chars) are
# proportionally more likely — how a corpus pipeline samples documents
# with probability proportional to token mass. Fully mergeable (top-k of
# per-partition top-k's, same as bottom-k) and deterministic: u is
# md5-derived, and the rank key is rounded to 9 dp in BOTH engines with a
# doc_id tiebreak so cross-engine transcendental last-ulp noise cannot
# reorder the cut (same contract as the cosine rankings). One TakeOrdered,
# no shuffle of the corpus.
# --------------------------------------------------------------------------
@query(
    "weighted_sample_ares",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) + 1.0) / 1152921504606846977.0)
               / n_chars, 9) AS rank_key
  FROM documents
),
top AS (
  SELECT * FROM keyed ORDER BY rank_key DESC, doc_id LIMIT 50
)
SELECT source,
       count(*) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
       min(rank_key) AS min_rank_key
FROM top
GROUP BY source
ORDER BY source
""",
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # u ∈ (0,1): (h+1) / (2^60 + 1) with h ∈ [0, 2^60)
    u = (md5_long(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(2**60 + 1)
    )
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("rank_key"),
    )
    top = keyed.orderBy(F.col("rank_key").desc(), "doc_id").limit(50)
    return (
        top.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
            F.min("rank_key").alias("min_rank_key"),
        )
        .orderBy("source")
    )


# The bigram-LM building blocks shared by ngram_lm_perplexity,
# kneser_ney_lm_scores and dedup_pipeline.corpus_curation_v2.
#
# ``toks``/``pairs``: every token (doc_id, source, t, t2) with its in-doc
# successor, and the bigrams among them (t2 not null).
_BIGRAM_SQL = """toks AS (
  SELECT doc_id, source, w[i] AS t, w[i+1] AS t2
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       (SELECT unnest(range(1, (SELECT max(len(string_split(text, ' '))) FROM documents) + 1)) AS i)
  WHERE i <= len(w)
),
pairs AS (SELECT doc_id, source, t, t2 FROM toks WHERE t2 IS NOT NULL)"""

# ``uni``/``vocab``/``big``/``scores``: add-1-smoothed bigram
# log-probabilities (t, t2, lnp)
_ADD1_SCORES_SQL = """uni AS (SELECT t, count(*) AS c1 FROM toks GROUP BY t),
vocab AS (SELECT count(DISTINCT t) AS v FROM toks),
big AS (SELECT t, t2, count(*) AS c2 FROM pairs GROUP BY t, t2),
scores AS (
  SELECT b.t, b.t2,
         ln((b.c2 + 1.0) / (u.c1 + (SELECT v FROM vocab))) AS lnp
  FROM big b JOIN uni u ON b.t = u.t
)"""

# ``per_doc``: each document's cross-entropy under ``scores``
_PER_DOC_XENT_SQL = """per_doc AS (
  SELECT p.doc_id, p.source,
         round(-sum(s.lnp) / count(*), 6) AS xent
  FROM pairs p JOIN scores s ON p.t = s.t AND p.t2 = s.t2
  GROUP BY p.doc_id, p.source
)"""

# the per-source rollup of ``per_doc``
_XENT_ROLLUP_SQL = """SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(xent), 4) AS avg_xent,
       round(min(xent), 6) AS min_xent,
       round(max(xent), 6) AS max_xent,
       round(median(xent), 6) AS median_xent
FROM per_doc
GROUP BY source
ORDER BY source"""


def _bigram_frames(docs: DataFrame, *cols: str) -> tuple[DataFrame, DataFrame]:
    """``(tok, pairs)``: every token ``(*cols, pos, t)`` of ``docs`` and
    its in-doc bigrams ``(*cols, t, t2)``; ``cols`` starts with doc_id."""
    tok = docs.select(
        *cols, F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = tok.select(*cols, "t", F.lead("t").over(w).alias("t2")).filter(
        F.col("t2").isNotNull()
    )
    return tok, pairs


def _add1_bigram_scores(tok: DataFrame, pairs: DataFrame) -> DataFrame:
    """``(t, t2, lnp)``: the add-1-smoothed bigram log-probability
    ln((C(w1,w2)+1)/(C(w1)+V)) of every bigram in ``pairs``. Unigram
    counts run over ALL token instances (doc-final tokens included): the
    LM denominator is the unigram count, not the pair-head count."""
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c1"))
    vocab = tok.select("t").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    big = pairs.groupBy("t", "t2").agg(F.count(F.lit(1)).alias("c2"))
    lnp = F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
    return (
        big.join(uni, "t")
        .crossJoin(F.broadcast(vocab))
        .select("t", "t2", lnp.alias("lnp"))
    )


def _xent_by_source(scored: DataFrame) -> DataFrame:
    """Per-source rollup of per-doc cross-entropy over ``scored`` bigram
    instances ``(doc_id, source, lnp)``."""
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.round(-F.sum("lnp") / F.count(F.lit(1)), 6).alias("xent")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("xent"), 4).alias("avg_xent"),
            F.round(F.min("xent"), 6).alias("min_xent"),
            F.round(F.max("xent"), 6).alias("max_xent"),
            F.round(F.median("xent"), 6).alias("median_xent"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: ngram_lm_perplexity — corpus-LM quality scoring (the CCNet/Gopher
# filter family): train an add-1-smoothed bigram language model ON the
# corpus itself (unigram counts, bigram counts, vocab size — three narrow
# aggregates), then score every document's cross-entropy under it,
# xent(doc) = -mean over bigram instances of ln((C(w1,w2)+1)/(C(w1)+V)).
# High-xent docs are the gibberish/boilerplate tail a quality gate drops.
# Everything is counting + one log — no model runtime. The per-bigram score
# table is bigram-keyed shared state: at 100 TB the LM is trained on a
# sample, pruned to top-V vocab, and BROADCAST to the scoring pass; here it
# flows through one ordinary shuffle join keyed by bigram. Docs with fewer
# than two tokens have no bigrams and drop out of the scored set (both
# engines agree by construction). Per-source rollup uses selection
# statistics (min/max/median of the 6-dp per-doc scores — exact selection,
# no cross-engine float-sum drift) plus a 4-dp mean.
# --------------------------------------------------------------------------
@query(
    "ngram_lm_perplexity",
    oracle=f"""
WITH {_BIGRAM_SQL},
{_ADD1_SCORES_SQL},
{_PER_DOC_XENT_SQL}
{_XENT_ROLLUP_SQL}
""",
)
def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok, pairs = _bigram_frames(docs, "doc_id", "source")
    return _xent_by_source(
        pairs.join(_add1_bigram_scores(tok, pairs), ["t", "t2"])
    )


# --------------------------------------------------------------------------
# Q: mixture_temperature_allocation — TEMPERATURE-based mixture weighting
# (the T5/LLaMA data-mixing rule): source weight ∝ (token count)^α with
# α = 0.7, flattening the natural distribution so small high-quality
# sources are upsampled relative to the crawl bulk. The float weights are
# then turned into an INTEGER per-source document budget (total 100 000)
# by largest-remainder apportionment — floor every share, hand the
# leftover units to the largest remainders — so the allocations sum to the
# budget exactly, the property the downstream sampler actually needs.
# Everything happens on the 20-row per-source aggregate, so the windows
# are post-agg trivia; the only corpus-scale work is one token-count
# aggregate. Shares are rounded to 9 dp before floor/remainder on BOTH
# engines so a ulp of pow() drift can't flip an integer boundary.
# --------------------------------------------------------------------------
_MIX_ALPHA = 0.7
_MIX_BUDGET = 100_000


@query(
    "mixture_temperature_allocation",
    oracle=f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wts AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens, {_MIX_ALPHA}) AS w,
         sum(pow(n_tokens, {_MIX_ALPHA})) OVER () AS wsum
  FROM per_src
),
shares AS (
  SELECT source, n_docs, n_tokens,
         round(w / wsum, 6) AS weight,
         round({_MIX_BUDGET} * w / wsum, 9) AS share
  FROM wts
),
floors AS (
  SELECT source, n_docs, n_tokens, weight,
         CAST(floor(share) AS BIGINT) AS base,
         share - floor(share) AS rem,
         CAST({_MIX_BUDGET} - sum(CAST(floor(share) AS BIGINT)) OVER ()
              AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY share - floor(share) DESC, source)
           AS rem_rank
  FROM shares
)
SELECT source, n_docs, n_tokens, weight,
       CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_docs
FROM floors
ORDER BY source
""",
)
def mixture_temperature_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _temperature_allocation(docs, _MIX_BUDGET).orderBy("source")


def _temperature_allocation(docs: DataFrame, budget: int) -> DataFrame:
    """(source, n_docs, n_tokens, weight, alloc_docs) with
    sum(alloc_docs) == budget exactly (largest-remainder apportionment of
    weights ∝ n_tokens^α). Shared by the allocation face and the
    quota-draw faces."""
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    # Unpartitioned windows are safe here: the frame is the 20-row
    # per-source aggregate, not the corpus (same pattern as pareto_rank).
    wall = Window.partitionBy()
    w = F.pow(F.col("n_tokens"), _MIX_ALPHA)
    shares = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w / F.sum(w).over(wall), 6).alias("weight"),
        F.round(F.lit(budget) * w / F.sum(w).over(wall), 9).alias(
            "share"
        ),
    )
    floors = shares.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        F.floor("share").cast("long").alias("base"),
        (F.col("share") - F.floor("share")).alias("rem"),
    )
    ranked = floors.select(
        "*",
        (F.lit(budget) - F.sum("base").over(wall)).alias("leftover"),
        F.row_number()
        .over(wall.orderBy(F.col("rem").desc(), "source"))
        .alias("rem_rank"),
    )
    return ranked.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        (
            F.col("base")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_docs"),
    )


def _quota_draw(docs: DataFrame, budget: int) -> tuple[DataFrame, DataFrame]:
    """``(quota, drawn)``: each source's temperature quota ``(source,
    quota)`` of a ``budget``-document draw from ``docs``, and the draw
    ``(source, n_drawn, drawn_chars)`` — the source's ``quota`` documents
    with the smallest md5(doc_id) hashes (doc_id tiebreak). Sources that
    draw nothing have no ``drawn`` row."""
    quota = _temperature_allocation(docs, budget).select(
        "source", F.col("alloc_docs").alias("quota")
    )
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    drawn = (
        docs.select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .join(broadcast_if_small(quota), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_drawn"),
            F.sum("n_chars").cast("long").alias("drawn_chars"),
        )
    )
    return quota, drawn


def _drawn_or_zero() -> list[Column]:
    """``n_drawn``/``drawn_chars`` of ``_quota_draw``'s ``drawn`` after a
    left join: 0 for a source that drew nothing."""
    return [
        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
        for c in ("n_drawn", "drawn_chars")
    ]


def _quota_draw_sql(src: str, budget: int) -> str:
    """The DuckDB twin of ``_quota_draw`` over CTE or table ``src``:
    ``quota`` (source, alloc) and ``drawn`` (source, n_chars) among the
    CTEs ``per_src``/``wts``/``shares``/``quota``/``ranked``/``drawn``."""
    return f"""per_src AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
           AS n_tokens
  FROM {src} GROUP BY source
),
wts AS (
  SELECT source, pow(n_tokens, {_MIX_ALPHA}) AS w,
         sum(pow(n_tokens, {_MIX_ALPHA})) OVER () AS wsum
  FROM per_src
),
shares AS (
  SELECT source, round({budget} * w / wsum, 9) AS share FROM wts
),
quota AS (
  SELECT source,
         CAST(floor(share) + CASE WHEN row_number() OVER (
                  ORDER BY share - floor(share) DESC, source)
              <= {budget} - sum(CAST(floor(share) AS BIGINT)) OVER ()
              THEN 1 ELSE 0 END AS BIGINT) AS alloc
  FROM shares
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT), doc_id) AS rn
  FROM {src}
),
drawn AS (
  SELECT r.source, r.n_chars
  FROM ranked r JOIN quota q ON r.source = q.source
  WHERE r.rn <= q.alloc
)"""


# --------------------------------------------------------------------------
# Q: length_bucket_padding_stats — sequence-length BUCKETING for batched
# training/inference: assign each document to the smallest power-of-two
# length bucket that fits it (16..1024, via an exact CASE ladder — no
# float log2 at bucket boundaries) and report the padding waste per
# bucket: tokens of padding a fixed-shape batch of that bucket would
# carry. This is the measurement that decides bucket boundaries for a
# packing-free batching scheme (the alternative sequence_packing_stats
# measures); one narrow map + one aggregate, no shuffle beyond the
# 7-group rollup.
# --------------------------------------------------------------------------
_LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024]


@query(
    "length_bucket_padding_stats",
    oracle=f"""
WITH lens AS (
  SELECT len(string_split(text, ' ')) AS n_tok FROM documents
),
bucketed AS (
  SELECT n_tok,
         CASE {' '.join(f'WHEN n_tok <= {b} THEN {b}' for b in _LEN_BUCKETS)}
              ELSE 2048 END AS bucket_cap
  FROM lens
)
SELECT bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(bucket_cap - n_tok) AS BIGINT) AS total_padding,
       round(sum(bucket_cap - n_tok) * 1.0 / sum(bucket_cap), 6)
         AS waste_share
FROM bucketed
GROUP BY bucket_cap
ORDER BY bucket_cap
""",
)
def length_bucket_padding_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    cap = F.lit(2048)
    for b in reversed(_LEN_BUCKETS):
        cap = F.when(n_tok <= b, F.lit(b)).otherwise(cap)
    bucketed = docs.select(
        n_tok.alias("n_tok"), cap.cast("long").alias("bucket_cap")
    )
    return (
        bucketed.groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.col("bucket_cap") - F.col("n_tok"))
            .cast("long")
            .alias("total_padding"),
            F.round(
                F.sum(F.col("bucket_cap") - F.col("n_tok"))
                / F.sum("bucket_cap"),
                6,
            ).alias("waste_share"),
        )
        .orderBy("bucket_cap")
    )


# --------------------------------------------------------------------------
# Q: stratified_quota_sample — the mixture CLOSED as an actual draw: the
# temperature allocation (same α = 0.7 largest-remainder math as
# mixture_temperature_allocation, budget 100 docs) becomes per-source
# quotas, and each source contributes exactly its quota of documents,
# chosen as the quota SMALLEST md5(doc_id) hashes — a deterministic
# uniform draw (hash order is independent of layout, so every engine,
# shard plan, and rerun picks the identical sample, and growing the quota
# only ever ADDS documents: bottom-k draws nest). Two corpus passes: the
# token-count aggregate for weights and one per-source bottom-k window —
# both keyed by source.
# --------------------------------------------------------------------------
_DRAW_BUDGET = 100


@query(
    "stratified_quota_sample",
    oracle=f"""
WITH {_quota_draw_sql("documents", _DRAW_BUDGET)}
SELECT q.source,
       q.alloc AS quota,
       CAST(count(d.n_chars) AS BIGINT) AS n_drawn,
       CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS drawn_chars
FROM quota q LEFT JOIN drawn d ON q.source = d.source
GROUP BY q.source, q.alloc
ORDER BY q.source
""",
)
def stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quota, drawn = _quota_draw(docs, _DRAW_BUDGET)
    return (
        quota.join(drawn, "source", "left")
        .select(
            "source",
            "quota",
            *_drawn_or_zero(),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: bm25_topk_retrieval — Okapi BM25 (k1=1.2, b=0.75) relevance scoring,
# the saturation-and-length-normalized sibling of tfidf_topk_retrieval and
# the scoring function real retrieval stacks (Lucene/ES) default to. Fully
# relational: TF per (doc, term), document length from the same token
# explosion, avgdl as total_tokens/n_docs (two metadata-cheap scalars),
# BM25 IDF = ln((N - df + 0.5)/(df + 0.5) + 1). Rounded before ranking so
# the top-10 is cross-engine stable.
#
# 100 TB shape: identical to TF-IDF — the per-term (df, idf) table is the
# only shared state (broadcast dim keyed by term); TF and doclen come from
# ONE token explosion with two narrow groupBys; scoring is a broadcast
# join + per-doc groupBy. Nothing global but two scalars.
# --------------------------------------------------------------------------
@query(
    "bm25_topk_retrieval",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
),
consts AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM toks) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t
),
idf AS (
  SELECT t,
         ln(((SELECT n FROM consts) - count(DISTINCT doc_id) + 0.5)
            / (count(DISTINCT doc_id) + 0.5) + 1.0) AS idf
  FROM toks GROUP BY t
),
scores AS (
  SELECT tf.doc_id,
         round(sum(idf.idf * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                  / (SELECT avgdl FROM consts)))), 6)
           AS score
  FROM tf
  JOIN idf USING (t)
  JOIN dl ON dl.doc_id = tf.doc_id
  WHERE t IN ('fast', 'join', 'shuffle')
  GROUP BY tf.doc_id
)
SELECT doc_id, score
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()  # scalar, metadata-cheap
    n_toks = toks.count()  # scalar: one narrow count over the explosion
    avgdl = float(n_toks) / float(n_docs)
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    idf = toks.groupBy("t").agg(
        F.log(
            (F.lit(float(n_docs)) - F.countDistinct("doc_id") + F.lit(0.5))
            / (F.countDistinct("doc_id") + F.lit(0.5))
            + F.lit(1.0)
        ).alias("idf")
    )
    query_terms = ("fast", "join", "shuffle")
    # same association order as the oracle: idf * (tf*(k1+1)) / (tf + k1*(...))
    term_score = (
        F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    return (
        tf.filter(F.col("t").isin(*query_terms))
        .join(F.broadcast(idf.filter(F.col("t").isin(*query_terms))), "t")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q: bpe_pair_merge_candidates — tokenizer induction, step one: the
# byte-pair-encoding merge-candidate table. Count adjacent character pairs
# across the corpus, weighted by word frequency; the top pair is BPE's
# first merge. The scale move is the same one every BPE trainer makes:
# collapse the corpus to the DISTINCT-word frequency table FIRST (Zipf:
# vocab ≪ token count), then explode character positions only over the
# vocab — so the expensive explode is vocab-sized, not corpus-sized, and
# the corpus contributes exactly one groupBy(word) shuffle. Pair extraction
# is substring(word, i, 2) over a sequence — pure codegen, no UDF.
# --------------------------------------------------------------------------
@query(
    "bpe_pair_merge_candidates",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
words AS (
  SELECT w, count(*) AS freq FROM toks WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM words, (SELECT unnest(range(1, (SELECT max(len(w)) FROM words) + 1)) AS i) r
  WHERE i + 1 <= len(w)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
""",
)
def bpe_pair_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        "w",
        "freq",
    ).select(F.expr("substring(w, i, 2)").alias("pair"), "freq")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: source_unigram_divergence — corpus drift audit: KL(source ‖ corpus)
# between each source's unigram token distribution and the whole corpus's.
# The mixture-rebalancing dashboard number: a source whose KL drifts up is
# pulling the training distribution. Every source token also appears in
# the corpus distribution by construction, so q > 0 and the sum is finite.
# Physically: one tokenize pass → per-(source, token) counts (the only
# corpus-sized shuffle) → per-token corpus counts re-aggregated FROM the
# per-source table (no second pass) and joined back token-to-token. Both
# count tables are vocab-sized.
# --------------------------------------------------------------------------
@query(
    "source_unigram_divergence",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
st AS (
  SELECT source, tok, count(*) AS c
  FROM toks WHERE len(tok) >= 1 GROUP BY source, tok
),
src_tot AS (
  SELECT source, sum(c) AS t_s FROM st GROUP BY source
),
gt AS (
  SELECT tok, sum(c) AS g FROM st GROUP BY tok
),
g_tot AS (
  SELECT sum(c) AS t_g FROM st
)
SELECT st.source,
       CAST(any_value(src_tot.t_s) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       round(sum((st.c * 1.0 / src_tot.t_s)
                 * ln((st.c * 1.0 / src_tot.t_s)
                      / (gt.g * 1.0 / g_tot.t_g))), 6) AS kl_divergence
FROM st
JOIN src_tot ON st.source = src_tot.source
JOIN gt ON st.tok = gt.tok
CROSS JOIN g_tot
GROUP BY st.source
ORDER BY st.source
""",
)
def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.length("tok") >= 1)
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = materialize(st)  # three readers below; tokenize the corpus once
    src_tot = st.groupBy("source").agg(F.sum("c").alias("t_s"))
    gt = st.groupBy("tok").agg(F.sum("c").alias("g"))
    t_g = st.agg(F.sum("c").alias("t_g"))
    p = F.col("c") / F.col("t_s")
    q = F.col("g") / F.col("t_g")
    return (
        st.join(broadcast_if_small(src_tot), "source")
        .join(gt, "tok")
        .join(F.broadcast(t_g))  # 1-row scalar
        .groupBy("source")
        .agg(
            F.first("t_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: bpe_learned_merges — tokenizer induction COMPLETED: k=4 BPE merge
# rounds actually applied to the distinct-word vocabulary (operators/
# bpe.py), not just the first-merge candidate table. Per round: pair
# counts weighted by word freq -> deterministic argmax (count desc, then
# lexicographic) -> leftmost-greedy merge via run-rank windows. The
# oracle unrolls the identical four rounds in MATERIALIZED CTEs (window
# functions express the greedy walk the same way), and a pure-Python
# naive BPE pins the semantics independently (tests/test_operators.py).
# Scale: after the one corpus-sized groupBy(word), every round is
# vocab-sized (Zipf) — the plan a trainer runs at 100 TB.
# --------------------------------------------------------------------------
def _bpe_ctes(rounds: int, final_state: bool) -> list[str]:
    """The unrolled BPE merge rounds as MATERIALIZED DuckDB CTEs: ``w0``
    (the word vocabulary), then per round ``r`` the symbol pairs ``p{r}``
    and the winning merge ``t{r}``, and — for every round but the last,
    or for the last too when ``final_state`` — the merge marks ``m{r}``
    and the merged state ``w{r}``."""
    parts = [
        """w0 AS MATERIALIZED (
  SELECT wid, count(*) AS freq, string_split(wid, '') AS syms FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS wid FROM documents
  ) WHERE len(wid) >= 2 GROUP BY wid
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
  SELECT wid, freq, u.i, u.s,
         lead(u.s) OVER (PARTITION BY wid ORDER BY u.i) AS s2
  FROM w{r - 1}, LATERAL (
    SELECT unnest(generate_series(1, len(syms))) AS i, unnest(syms) AS s
  ) u
)""")
        parts.append(f"""t{r} AS MATERIALIZED (
  SELECT s AS a, s2 AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM p{r} WHERE s2 IS NOT NULL GROUP BY s, s2
  ORDER BY cnt DESC, a, b LIMIT 1
)""")
        if r < rounds or final_state:
            parts.append(f"""m{r} AS MATERIALIZED (
  SELECT wid, freq, i, s, match AND (mrank % 2 = 1) AS merge FROM (
    SELECT wid, freq, i, s, match,
           sum(CASE WHEN match THEN 1 ELSE 0 END)
             OVER (PARTITION BY wid, run ORDER BY i) AS mrank
    FROM (
      SELECT wid, freq, i, s, match,
             coalesce(sum(CASE WHEN match THEN 0 ELSE 1 END)
               OVER (PARTITION BY wid ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS run
      FROM (
        SELECT p.wid, p.freq, p.i, p.s,
               coalesce(p.s = t.a AND p.s2 = t.b, false) AS match
        FROM p{r} p, t{r} t
      )
    )
  )
)""")
            parts.append(f"""w{r} AS MATERIALIZED (
  SELECT wid, freq, list(sym ORDER BY i) AS syms FROM (
    SELECT wid, freq, i,
           CASE WHEN merge THEN (SELECT a || b FROM t{r}) ELSE s END AS sym,
           coalesce(lag(merge) OVER (PARTITION BY wid ORDER BY i),
                    false) AS consumed
    FROM m{r}
  ) WHERE NOT consumed GROUP BY wid, freq
)""")
    return parts


def _bpe_oracle(rounds: int = 4) -> str:
    parts = _bpe_ctes(rounds, final_state=False)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt AS n_occurrences FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union + "\nORDER BY round"


@query("bpe_learned_merges", oracle=_bpe_oracle(4))
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_table(docs, rounds=4).orderBy("round")


# --------------------------------------------------------------------------
# Q: winnowing_fingerprints — MOSS-style winnowed document fingerprints
# (Schleimer/Wilkerson/Aiken): hash every k-gram (k=3 tokens, the portable
# md5 60-bit hash), slide a w=4 window over consecutive k-gram hashes, and
# select each window's MINIMUM hash (position as the tiebreak, so the
# selection is deterministic in any engine). The guarantee that makes
# winnowing THE plagiarism/near-dup fingerprint: any shared run of
# w+k-1 tokens between two docs shares at least one selected fingerprint,
# while storage drops to ~2/(w+1) of the k-gram count. Physically: the
# k-gram table is the one corpus-sized pass (doc-keyed window, one
# exchange reused from the shingle layout); selection is a bounded
# sliding-frame min + distinct — no self-joins, no UDFs.
# --------------------------------------------------------------------------
@query(
    "winnowing_fingerprints",
    oracle="""
WITH toks AS (
  SELECT doc_id, i AS pos, w[i] AS t, w[i+1] AS t2, w[i+2] AS t3
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       (SELECT unnest(range(1, (SELECT max(len(string_split(text, ' '))) FROM documents) + 1)) AS i)
  WHERE i <= len(w)
),
kg AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(t || ' ' || t2 || ' ' || t3), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE t3 IS NOT NULL
),
n_kg AS (SELECT doc_id, count(*) AS nk FROM kg GROUP BY doc_id),
win AS (
  SELECT doc_id, pos,
         min({'h': h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
  FROM kg
),
sel AS (
  SELECT DISTINCT doc_id, (m).h AS h, (m).p AS pos
  FROM win w JOIN n_kg USING (doc_id)
  WHERE w.pos <= n_kg.nk - 3
)
SELECT sel.doc_id,
       count(*) AS n_fingerprints,
       count(DISTINCT h) AS n_distinct_hashes,
       CAST(min(h) AS BIGINT) AS min_fp,
       round(count(*) * 1.0 / any_value(nk), 6) AS density
FROM sel JOIN n_kg ON sel.doc_id = n_kg.doc_id
GROUP BY sel.doc_id
ORDER BY sel.doc_id
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # positioned k-gram table (the _raw_shingles layout, but keeping pos —
    # winnowing selects by position): one doc-keyed exchange, reused by
    # every window below
    par = spark.sparkContext.defaultParallelism
    tok = docs.repartition(par, F.col("doc_id")).select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    kg = (
        tok.select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.concat_ws(
                " ", F.col("t"), F.lead("t", 1).over(w), F.lead("t", 2).over(w)
            ).alias("s"),
            F.lead("t", 2).over(w).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("doc_id", "pos", md5_long(F.col("s")).alias("h"))
    )
    wp = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    # r11: per-doc k-gram count as a WINDOW over the same doc partitioning
    # instead of a separate aggregate joined back TWICE — the old shape
    # re-evaluated the whole tokenize→lead→md5 subtree three times (win +
    # both join legs); now the pipeline is one pass, and every downstream
    # op (filter, distinct, final groupBy) reuses the single doc_id
    # exchange. nk is constant per doc, so carrying it through the
    # distinct/agg changes no values (measured 6.9 s → ~1.5 s at sf0.01).
    wn = Window.partitionBy("doc_id")
    win = kg.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wn).alias("nk"),
        F.min(F.struct("h", "pos")).over(wp).alias("m"),
    )
    sel = (
        win.filter(F.col("pos") <= F.col("nk") - 3)
        .select(
            "doc_id",
            "nk",
            F.col("m.h").alias("h"),
            F.col("m.pos").alias("pos"),
        )
        .distinct()
    )
    return (
        sel.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.countDistinct("h").alias("n_distinct_hashes"),
            F.min("h").cast("long").alias("min_fp"),
            F.round(F.count(F.lit(1)) / F.first("nk"), 6).alias("density"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q: gopher_quality_gates — the Gopher/MassiveText repetition + shape
# filters (Rae et al. 2021, §A1.1), the standard pre-training quality
# gate battery: per doc, token count in [8, 50000], mean word length in
# [2, 10], ≥80% of words contain an alphabetic character, top-bigram
# fraction ≤ 0.18, duplicate-trigram fraction ≤ 0.30. Output is the
# per-source audit: docs failing each gate and the pass count — the
# dashboard that decides what a crawl snapshot contributes. Physically
# ONE tokenize pass: the doc-keyed token table feeds length stats,
# bigram/trigram windows, and per-doc tops, all sharing the one exchange;
# per-source rollup is a second tiny aggregate.
# --------------------------------------------------------------------------
@query(
    "gopher_quality_gates",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, i AS pos, w[i] AS t, w[i+1] AS t2, w[i+2] AS t3
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       (SELECT unnest(range(1, (SELECT max(len(string_split(text, ' '))) FROM documents) + 1)) AS i)
  WHERE i <= len(w)
),
base AS (
  SELECT doc_id, source,
         count(*) AS n_tokens,
         round(avg(len(t)), 6) AS mean_wlen,
         round(avg(CASE WHEN regexp_matches(t, '[a-z]') THEN 1.0 ELSE 0.0 END), 6)
           AS frac_alpha
  FROM toks GROUP BY doc_id, source
),
big AS (
  SELECT doc_id, t || ' ' || t2 AS bg, count(*) AS c
  FROM toks WHERE t2 IS NOT NULL GROUP BY doc_id, bg
),
bigtop AS (
  SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
  FROM big GROUP BY doc_id
),
tri AS (
  SELECT doc_id,
         round(1.0 - count(DISTINCT t || ' ' || t2 || ' ' || t3) * 1.0 / count(*), 6)
           AS dup_trigram_frac
  FROM toks WHERE t3 IS NOT NULL GROUP BY doc_id
),
flags AS (
  SELECT b.source,
         (n_tokens BETWEEN 8 AND 50000) AS ok_len,
         (mean_wlen BETWEEN 2 AND 10) AS ok_wlen,
         (frac_alpha >= 0.8) AS ok_alpha,
         (coalesce(top_bigram_frac, 0) <= 0.18) AS ok_bigram,
         (coalesce(dup_trigram_frac, 0) <= 0.30) AS ok_trigram
  FROM base b
  LEFT JOIN bigtop USING (doc_id)
  LEFT JOIN tri USING (doc_id)
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
       CAST(sum(CASE WHEN NOT ok_wlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wlen,
       CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
       CAST(sum(CASE WHEN NOT ok_bigram THEN 1 ELSE 0 END) AS BIGINT) AS fail_bigram,
       CAST(sum(CASE WHEN NOT ok_trigram THEN 1 ELSE 0 END) AS BIGINT) AS fail_trigram,
       CAST(sum(CASE WHEN ok_len AND ok_wlen AND ok_alpha AND ok_bigram
                      AND ok_trigram THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source ORDER BY source
""",
)
def gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    tok = docs.repartition(par, F.col("doc_id")).select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tok = tok.select(
        "doc_id",
        "source",
        "t",
        F.lead("t", 1).over(w).alias("t2"),
        F.lead("t", 2).over(w).alias("t3"),
    )
    tok = materialize(tok)  # three consumers; cache() is pathological on
    # window-containing plans on this build (README "Performance")
    base = tok.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("t")), 6).alias("mean_wlen"),
        F.round(
            F.avg(F.when(F.col("t").rlike("[a-z]"), 1.0).otherwise(0.0)), 6
        ).alias("frac_alpha"),
    )
    big = (
        tok.filter(F.col("t2").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "t", "t2").alias("bg"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigtop = big.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    tri = (
        tok.filter(F.col("t3").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.round(
                F.lit(1.0)
                - F.countDistinct(F.concat_ws(" ", "t", "t2", "t3"))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_trigram_frac")
        )
    )
    flags = (
        base.join(bigtop, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "source",
            F.col("n_tokens").between(8, 50000).alias("ok_len"),
            F.col("mean_wlen").between(2, 10).alias("ok_wlen"),
            (F.col("frac_alpha") >= 0.8).alias("ok_alpha"),
            (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= 0.18).alias(
                "ok_bigram"
            ),
            (F.coalesce(F.col("dup_trigram_frac"), F.lit(0.0)) <= 0.30).alias(
                "ok_trigram"
            ),
        )
    )
    n_fail = lambda c: F.sum((~F.col(c)).cast("int")).cast("long")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_fail("ok_len").alias("fail_len"),
            n_fail("ok_wlen").alias("fail_wlen"),
            n_fail("ok_alpha").alias("fail_alpha"),
            n_fail("ok_bigram").alias("fail_bigram"),
            n_fail("ok_trigram").alias("fail_trigram"),
            F.sum(
                (
                    F.col("ok_len")
                    & F.col("ok_wlen")
                    & F.col("ok_alpha")
                    & F.col("ok_bigram")
                    & F.col("ok_trigram")
                ).cast("int")
            )
            .cast("long")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: bpe_compression_stats — the encoder-side readout of the learned
# merges: apply all 4 BPE rounds to the vocabulary and report what the
# tokenizer bought — corpus symbol count before (characters) vs after,
# compression ratio, and the symbol-vocabulary size. The number a
# tokenizer-budget decision actually reads. Oracle: the same unrolled
# rounds, aggregated over the final w4 state.
# --------------------------------------------------------------------------
def _bpe_stats_oracle(rounds: int = 4) -> str:
    r = rounds
    return "WITH " + ",\n".join(_bpe_ctes(r, final_state=True)) + f"""
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq * len(wid)) AS BIGINT) AS chars_before,
       CAST(sum(freq * len(syms)) AS BIGINT) AS symbols_after,
       round(sum(freq * len(syms)) * 1.0 / sum(freq * len(wid)), 6)
         AS compression,
       (SELECT count(DISTINCT s)
        FROM (SELECT unnest(syms) AS s FROM w{r})) AS vocab_symbols
FROM w{r}"""


@query("bpe_compression_stats", oracle=_bpe_stats_oracle(4))
def bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    state = bpe_apply(docs, rounds=4)
    vocab = state.select(F.explode("syms").alias("s")).agg(
        F.countDistinct("s").alias("vocab_symbols")
    )
    return (
        state.agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("freq") * F.length("wid"))
            .cast("long")
            .alias("chars_before"),
            F.sum(F.col("freq") * F.size("syms"))
            .cast("long")
            .alias("symbols_after"),
            F.round(
                F.sum(F.col("freq") * F.size("syms"))
                / F.sum(F.col("freq") * F.length("wid")),
                6,
            ).alias("compression"),
        )
        .crossJoin(F.broadcast(vocab))
    )


# --------------------------------------------------------------------------
# Q: pii_redaction_stats — the PII scrub pass every released corpus runs:
# detect and redact email addresses, report per-source counts and prove
# the scrub complete (zero residual matches — emitted as a checked
# boolean, not a promise). The synthetic corpus carries no PII, so a
# deterministic planted email ('user{doc_id}@example.com' on every 5th
# doc) makes detection, multiplicity, and global replacement all
# observable; both engines plant and scrub identically (Spark
# regexp_replace replaces ALL matches; DuckDB needs the explicit 'g'
# flag — exactly the kind of engine difference this face pins). Scale:
# one narrow codegen map over text, no shuffle beyond the source rollup.
# --------------------------------------------------------------------------
_PII_PAT = "[a-z0-9]+@[a-z]+\\.[a-z]+"


@query(
    "pii_redaction_stats",
    oracle=f"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id || '@example.com now'
              ELSE text END AS t
  FROM documents
),
scrubbed AS (
  SELECT doc_id, source,
         len(regexp_extract_all(t, '{_PII_PAT}')) AS n_matches,
         regexp_replace(t, '{_PII_PAT}', '<EMAIL>', 'g') AS red
  FROM planted
)
SELECT source,
       CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_pii,
       CAST(sum(n_matches) AS BIGINT) AS total_matches,
       CAST(sum(len(red)) AS BIGINT) AS redacted_chars,
       bool_and(len(regexp_extract_all(red, '{_PII_PAT}')) = 0)
         AS scrub_complete
FROM scrubbed GROUP BY source ORDER BY source
""",
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    scrubbed = planted.select(
        "source",
        F.size(F.regexp_extract_all("t", F.lit(_PII_PAT), 0)).alias("n_matches"),
        F.regexp_replace("t", _PII_PAT, "<EMAIL>").alias("red"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.sum((F.col("n_matches") > 0).cast("int"))
            .cast("long")
            .alias("docs_with_pii"),
            F.sum("n_matches").cast("long").alias("total_matches"),
            F.sum(F.length("red")).cast("long").alias("redacted_chars"),
            F.bool_and(
                F.size(F.regexp_extract_all("red", F.lit(_PII_PAT), 0)) == 0
            ).alias("scrub_complete"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: phrase_match_positional — exact phrase search the inverted-index way:
# positional postings (token, doc, pos) self-joined on pos+1 adjacency,
# the operator real IR engines run for quoted queries (LIKE/contains
# can't respect token boundaries and rescans the raw text per query).
# Query phrases are picked from the corpus deterministically (the 3 most
# frequent bigrams) so the face is data-driven, then matched by the
# positional join. Scale: postings are built once per corpus (the same
# tokenize pass every text face shares) and the join is keyed by term —
# only the two query terms' postings move.
# --------------------------------------------------------------------------
@query(
    "phrase_match_positional",
    oracle="""
WITH toks AS (
  SELECT doc_id, arr[i] AS tok, i AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       UNNEST(generate_series(1, len(arr))) AS u(i)
), bigrams AS (
  SELECT a.tok AS w1, b.tok AS w2, count(*) AS n
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
), q AS (
  SELECT w1, w2, n FROM bigrams
  ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 3
), hits AS (
  SELECT q.w1, q.w2, q.n AS corpus_occurrences,
         count(DISTINCT a.doc_id) AS n_docs
  FROM q
  JOIN toks a ON a.tok = q.w1
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.tok = q.w2
  GROUP BY q.w1, q.w2, q.n
)
SELECT w1 || ' ' || w2 AS phrase,
       CAST(corpus_occurrences AS BIGINT) AS corpus_occurrences,
       CAST(n_docs AS BIGINT) AS n_docs
FROM hits
ORDER BY corpus_occurrences DESC, phrase ASC
""",
)
def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
        ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    )
    a = toks.select("doc_id", F.col("tok").alias("w1"), "pos")
    b = toks.select(
        "doc_id", F.col("tok").alias("w2"), (F.col("pos") - 1).alias("pos")
    )
    bigrams = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        bigrams.orderBy(
            F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(3)
    )
    qa = broadcast_if_small(
        q.select(F.col("w1"), F.col("w2"), F.col("n").alias("corpus_occurrences"))
    )
    first = toks.join(
        qa, toks.tok == qa.w1
    ).select("doc_id", "w1", "w2", "corpus_occurrences", "pos")
    second = toks.select(
        "doc_id",
        F.col("tok").alias("w2_tok"),
        (F.col("pos") - 1).alias("pos"),
    )
    hits = first.join(
        second,
        (first.doc_id == second.doc_id)
        & (first.pos == second.pos)
        & (first.w2 == second.w2_tok),
    )
    return (
        hits.groupBy("w1", "w2", "corpus_occurrences")
        .agg(F.count_distinct(first.doc_id).alias("n_docs"))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            F.col("corpus_occurrences").cast("long"),
            F.col("n_docs").cast("long"),
        )
        .orderBy(F.col("corpus_occurrences").desc(), F.col("phrase").asc())
    )


# --------------------------------------------------------------------------
# Q: readability_scores — Flesch-style readability per source: words per
# sentence (periods as sentence breaks, +1 for the unterminated tail) and
# vowel-group syllable approximation per word, folded into the Flesch
# Reading Ease formula 206.835 - 1.015·(W/S) - 84.6·(syl/W). Everything
# is an integer count from two regexp_count passes (codegen; no explode
# needed), so the per-source sums are exact and only the final formula is
# float. The standard corpus-quality readout next to the Gopher gates.
# --------------------------------------------------------------------------
@query(
    "readability_scores",
    oracle="""
WITH per_doc AS (
  SELECT source,
         len(string_split(text, ' ')) AS words,
         1 + length(text) - length(replace(text, '.', '')) AS sentences,
         length(regexp_replace(text, '[aeiouAEIOU]+', '#', 'g'))
           - length(replace(regexp_replace(text, '[aeiouAEIOU]+', '#', 'g'),
                            '#', '')) AS syllables
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS words,
         CAST(sum(sentences) AS BIGINT) AS sentences,
         CAST(sum(syllables) AS BIGINT) AS syllables
  FROM per_doc GROUP BY source
)
SELECT source, n_docs,
       round(CAST(words AS DOUBLE) / sentences, 6) AS words_per_sentence,
       round(CAST(syllables AS DOUBLE) / words, 6) AS syllables_per_word,
       round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
             - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
         AS flesch_ease
FROM agg
ORDER BY source
""",
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vowel_marked = F.regexp_replace(F.col("text"), "[aeiouAEIOU]+", "#")
    per_doc = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).alias("words"),
        (
            1
            + F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "\\.", ""))
        ).alias("sentences"),
        (
            F.length(vowel_marked)
            - F.length(F.regexp_replace(vowel_marked, "#", ""))
        ).alias("syllables"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("sentences").alias("sentences"),
        F.sum("syllables").alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences")
    spw = F.col("syllables").cast("double") / F.col("words")
    return agg.select(
        "source",
        "n_docs",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_ease"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Q: dunning_g2_collocations — collocation extraction by Dunning's
# log-likelihood ratio G² over the bigram 2×2 contingency table: for each
# bigram (w1, w2), k11 = c(w1 w2), k12 = c(w1 ·) − k11, k21 = c(· w2) −
# k11, k22 = N − k11 − k12 − k21, and G² = 2·Σ k·ln(k/E) over the four
# cells. The standard fix for PMI's rare-pair bias (PMI ranks hapax pairs
# top; G² weights by evidence mass), so the two faces together are the
# real collocation dashboard. Determinism: every cell count and marginal
# is an exact BIGINT from ONE bigram-count pass; each ln argument is a
# fixed-order double expression over those integers, so the four-term sum
# is bit-identical in any IEEE engine — no cross-row float accumulation.
# Scale: one corpus tokenize → bigram count shuffle (the only
# corpus-sized exchange); marginals re-aggregate from the vocab-sized
# bigram table and join back through the size policy (NOT unconditional
# broadcasts — 10⁸⁺ marginal rows on a web corpus degrade to a
# co-partitioned shuffle join keyed on t/t2, which big already is).
# --------------------------------------------------------------------------
@query(
    "dunning_g2_collocations",
    oracle="""
WITH docsplit AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
toks AS MATERIALIZED (
  SELECT doc_id, i AS pos, ws[i] AS t,
         CASE WHEN i < len(ws) THEN ws[i + 1] END AS t2
  FROM docsplit,
       (SELECT unnest(range(1, CAST((SELECT max(len(ws)) FROM docsplit) AS BIGINT) + 1)) AS i)
  WHERE i <= len(ws)
),
big AS MATERIALIZED (
  SELECT t, t2, count(*) AS c2 FROM toks WHERE t2 IS NOT NULL GROUP BY t, t2
),
rt AS (SELECT t, CAST(sum(c2) AS BIGINT) AS r FROM big GROUP BY t),
ct AS (SELECT t2, CAST(sum(c2) AS BIGINT) AS c FROM big GROUP BY t2),
nn AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM big),
cells AS (
  SELECT big.t AS w1, big.t2 AS w2,
         CAST(c2 AS BIGINT) AS k11,
         r - c2 AS k12, c - c2 AS k21, n - r - c + c2 AS k22,
         r, c, n
  FROM big
  JOIN rt ON big.t = rt.t
  JOIN ct ON big.t2 = ct.t2
  CROSS JOIN nn
  WHERE c2 >= 10
),
scored AS (
  SELECT w1, w2, k11,
    round(2.0 * (
        k11 * ln((k11 * 1.0 / r) * (n * 1.0 / c))
      + CASE WHEN k12 > 0
             THEN k12 * ln((k12 * 1.0 / r) * (n * 1.0 / (n - c))) ELSE 0 END
      + CASE WHEN k21 > 0
             THEN k21 * ln((k21 * 1.0 / (n - r)) * (n * 1.0 / c)) ELSE 0 END
      + CASE WHEN k22 > 0
             THEN k22 * ln((k22 * 1.0 / (n - r)) * (n * 1.0 / (n - c)))
             ELSE 0 END
    ), 6) AS g2
  FROM cells
)
SELECT w1, w2, k11 AS n_pair, g2
FROM scored
ORDER BY g2 DESC, w1, w2
LIMIT 15
""",
)
def dunning_g2_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = tok.select("t", F.lead("t").over(w).alias("t2"))
    big_all = materialize(
        pairs.filter(F.col("t2").isNotNull())
        .groupBy("t", "t2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    rt = big_all.groupBy("t").agg(F.sum("c2").cast("long").alias("r"))
    ct = big_all.groupBy("t2").agg(F.sum("c2").cast("long").alias("c"))
    nn = big_all.agg(F.sum("c2").cast("long").alias("n"))
    cells = (
        big_all.filter(F.col("c2") >= 10)
        .join(broadcast_if_small(rt), "t")
        .join(broadcast_if_small(ct), "t2")
        .join(F.broadcast(nn))  # 1-row scalar
        .select(
            F.col("t").alias("w1"),
            F.col("t2").alias("w2"),
            F.col("c2").cast("long").alias("k11"),
            (F.col("r") - F.col("c2")).alias("k12"),
            (F.col("c") - F.col("c2")).alias("k21"),
            (F.col("n") - F.col("r") - F.col("c") + F.col("c2")).alias("k22"),
            "r",
            "c",
            "n",
        )
    )
    k11, k12, k21, k22 = (F.col(k) for k in ("k11", "k12", "k21", "k22"))
    r, c, n = F.col("r"), F.col("c"), F.col("n")
    # ratio-of-ratios form keeps every ln argument within double range at
    # any corpus size (k·N would overflow int64 at 10^12 bigrams); term
    # order mirrors the oracle exactly so the 4-term sum is bit-identical
    g2 = F.lit(2.0) * (
        k11 * F.log((k11 * 1.0 / r) * (n * 1.0 / c))
        + F.when(
            k12 > 0, k12 * F.log((k12 * 1.0 / r) * (n * 1.0 / (n - c)))
        ).otherwise(F.lit(0.0))
        + F.when(
            k21 > 0, k21 * F.log((k21 * 1.0 / (n - r)) * (n * 1.0 / c))
        ).otherwise(F.lit(0.0))
        + F.when(
            k22 > 0,
            k22 * F.log((k22 * 1.0 / (n - r)) * (n * 1.0 / (n - c))),
        ).otherwise(F.lit(0.0))
    )
    return (
        cells.select(
            "w1", "w2", F.col("k11").alias("n_pair"), F.round(g2, 6).alias("g2")
        )
        .orderBy(F.col("g2").desc(), "w1", "w2")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Q: zipf_fit_slope — per-source Zipf exponent: OLS slope of ln(freq) on
# ln(rank) over each source's top-100 token ranks (rank by freq desc, token
# asc). A natural-language source fits slope ≈ −1; boilerplate/spam/
# machine-generated sources flatten or steepen, so this is a one-number
# corpus-mixture screen next to the entropy and KL faces. Determinism:
# windowed/grouped DOUBLE sums are not order-stable across engines, so
# ln(rank) and ln(freq) are quantized to 1e-5 (tenth-milli-nat) BIGINTs
# first — integer sufficient sums are exact in any order, and the final
# slope/R² are fixed-order scalar expressions over those integers (int64
# headroom: |x_q| ≤ 1.2e6, Σx_q·y_q over 100 ranks ≤ 1.5e14, n·Σ ≤ 1.5e16).
# Scale: one tokenize → (source, token) count shuffle; the rank window runs
# on vocab-sized data partitioned by source; the regression is a per-source
# aggregate of 100 rows.
# --------------------------------------------------------------------------
@query(
    "zipf_fit_slope",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
freq AS (
  SELECT source, t, count(*) AS c FROM toks GROUP BY source, t
),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, t ASC) AS rk
  FROM freq
),
quant AS (
  SELECT source,
         CAST(round(ln(rk) * 100000) AS BIGINT) AS xq,
         CAST(round(ln(c) * 100000) AS BIGINT) AS yq
  FROM ranked WHERE rk <= 100
),
sums AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx,
         CAST(sum(yq * yq) AS BIGINT) AS syy
  FROM quant GROUP BY source
)
SELECT source, n AS n_ranks,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round(POW(CAST(n * sxy - sx * sy AS DOUBLE), 2)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM sums
ORDER BY source
""",
)
def zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("t").asc())
    quant = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 100)
        .select(
            "source",
            F.round(F.log(F.col("rk")) * 100000).cast("long").alias("xq"),
            F.round(F.log(F.col("c")) * 100000).cast("long").alias("yq"),
        )
    )
    sums = quant.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    denx = (n * sxx - sx * sx).cast("double")
    deny = (n * syy - sy * sy).cast("double")
    return sums.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.round(num / denx, 6).alias("zipf_slope"),
        F.round(F.pow(num, F.lit(2)) / (denx * deny), 6).alias("r2"),
    ).orderBy("source")


# ``toks``/``tf``/``n_docs``: every token, the (doc_id, t) term
# frequencies and the document count — the head of the TF-IDF oracles
_TF_SQL = """toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, t
),
n_docs AS (SELECT count(*) AS n FROM documents)"""


# --------------------------------------------------------------------------
# Q: doc_keyphrases_topk — per-document keyphrase extraction: rank each
# document's terms by tf·idf and keep the top 3 (the summarization/tagging
# primitive next to tfidf_topk_retrieval's fixed-query scoring — same
# statistics, transposed readout). IDF comes from the full corpus pass;
# the per-doc rank window partitions on doc_id (never global). Scores are
# rounded to 6 dp BEFORE ranking with a term tie-break, so the rank is a
# total order both engines state identically. Output bounded to a fixed
# doc panel (doc_id < 10) — the readout shape, not a corpus dump; the
# ranking itself runs corpus-wide. Scale: tokenize → (doc, term) tf and
# term → df aggregates (map-side combinable), idf joins back through the
# size policy (vocab-sized, NOT an unconditional broadcast), one
# doc-partitioned rank exchange.
# --------------------------------------------------------------------------
@query(
    "doc_keyphrases_topk",
    oracle=f"""
WITH {_TF_SQL},
idf AS (
  SELECT t, ln((SELECT n FROM n_docs) / (1.0 + count(DISTINCT doc_id))) AS idf
  FROM toks GROUP BY t
),
scored AS (
  SELECT doc_id, t, round(tf * idf, 6) AS score
  FROM tf JOIN idf USING (t)
),
ranked AS (
  SELECT doc_id, t, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, t ASC) AS rk
  FROM scored
)
SELECT doc_id, rk, t AS term, score
FROM ranked WHERE rk <= 3 AND doc_id < 10
ORDER BY doc_id, rk
""",
)
def doc_keyphrases_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    tf = toks.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = docs.count()  # scalar for the IDF constant (metadata-cheap)
    idf = toks.groupBy("t").agg(
        F.log(
            F.lit(float(n_docs)) / (F.lit(1.0) + F.countDistinct("doc_id"))
        ).alias("idf")
    )
    scored = tf.join(broadcast_if_small(idf), "t").select(
        "doc_id",
        "t",
        F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") < 10))
        .select("doc_id", "rk", F.col("t").alias("term"), "score")
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# Q: heaps_law_fit — Heaps'-law vocabulary-growth fit across sources:
# each source contributes one (ln N_tokens, ln V_types) point; the OLS
# slope across sources estimates the Heaps exponent β (natural corpora
# ≈ 0.4–0.6; template/boilerplate sources collapse toward 0). The Zipf
# face grades WITHIN-source rank structure; this grades growth ACROSS
# source sizes — together the two standard corpus-statistics fits.
# Determinism: token/type counts are exact BIGINTs from one tokenize
# pass; ln values quantize to 1e-5 BIGINTs; the regression is exact
# integer sufficient sums with a fixed-order readout (same ladder as
# zipf_fit_slope). Scale: one (source, token) rollup (map-side
# combinable) → source-sized sums → one-row fit.
# --------------------------------------------------------------------------
@query(
    "heaps_law_fit",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT t) AS BIGINT) AS v_types
  FROM toks GROUP BY source
),
quant AS (
  SELECT source,
         CAST(round(ln(n_tokens) * 100000) AS BIGINT) AS xq,
         CAST(round(ln(v_types) * 100000) AS BIGINT) AS yq
  FROM per_source
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         CAST(sum(xq * yq) AS BIGINT) AS sxy,
         CAST(sum(xq * xq) AS BIGINT) AS sxx
  FROM quant
)
SELECT n AS n_sources,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
       round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
             / (n * 100000.0), 6) AS ln_k_intercept
FROM sums
""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    per_source = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("v_types"),
    )
    quant = per_source.select(
        F.round(F.log("n_tokens") * 100000).cast("long").alias("xq"),
        F.round(F.log("v_types") * 100000).cast("long").alias("yq"),
    )
    sums = quant.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    beta = num / den
    return sums.select(
        F.col("n").alias("n_sources"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round((sy.cast("double") - beta * sx) / (n * 100000.0), 6).alias(
            "ln_k_intercept"
        ),
    )


# --------------------------------------------------------------------------
# Q: token_diversity_by_source — lexical-diversity indices per source:
# type count V, token count N, Shannon entropy H = −Σ p·ln p over the
# token distribution, and Simpson concentration λ = Σ n_t(n_t−1) /
# (N(N−1)) — the repeated-draw collision probability. λ is EXACT rational
# integer arithmetic end to end; H quantizes each −p·ln p term to a
# 1e-12 BIGINT before the per-source sum (payload_byte_entropy's ladder —
# exact in any accumulation order; |term| ≤ 0.37 ⇒ ×10⁶ types ≪ int64).
# Boilerplate sources collapse in H and spike in λ, complementing the
# Zipf/Heaps fits. Scale: one (source, token) rollup, then a vocab-sized
# aggregate joined to source totals through the size policy.
# --------------------------------------------------------------------------
@query(
    "token_diversity_by_source",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
tf AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM toks
  GROUP BY source, t
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS v,
         CAST(sum(c * (c - 1)) AS BIGINT) AS coll
  FROM tf GROUP BY source
),
ent AS (
  SELECT tf.source,
         CAST(sum(CAST(round(-(c * 1.0 / n) * ln(c * 1.0 / n) * 1e12)
                       AS BIGINT)) AS BIGINT) AS hq
  FROM tf JOIN tot ON tf.source = tot.source
  GROUP BY tf.source
)
SELECT tot.source, n AS n_tokens, v AS n_types,
       round(hq / 1e12, 6) AS shannon_nats,
       round(coll * 1.0 / (n * (n - 1)), 6) AS simpson_lambda
FROM tot JOIN ent ON tot.source = ent.source
ORDER BY tot.source
""",
)
def token_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coll"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        tf.join(broadcast_if_small(tot.select("source", "n")), "source")
        .select(
            "source",
            F.round(-p * F.log(p) * 1e12).cast("long").alias("tq"),
        )
        .groupBy("source")
        .agg(F.sum("tq").cast("long").alias("hq"))
    )
    return (
        tot.join(ent, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.col("v").alias("n_types"),
            F.round(F.col("hq") / 1e12, 6).alias("shannon_nats"),
            F.round(
                F.col("coll") * 1.0 / (F.col("n") * (F.col("n") - 1)), 6
            ).alias("simpson_lambda"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: tfidf_cosine_doc_pairs — SPARSE-vector document similarity join: the
# cosine between tf·idf term vectors computed relationally over the
# inverted index (Σ shared-term weight products / norm product), the text
# twin of the dense embedding pair join. Distinct machinery on purpose:
# no arrays — the dot product is a term-keyed join + per-pair aggregate,
# and norms are per-doc aggregates, which is exactly how a 100-TB sparse
# similarity join has to run (the dense form would materialize a
# vocab-width vector per doc). Determinism: tf/df are exact integers; idf
# and each weight product are identical IEEE expressions; per-pair and
# per-doc sums quantize each product to a 1e-9 BIGINT first (exact in any
# join order). Threshold 0.5, d1 < d2. Scale: the pair space is bounded
# by the shared-term join (stop-term cap at production scale, same guard
# as the containment face).
# --------------------------------------------------------------------------
@query(
    "tfidf_cosine_doc_pairs",
    oracle=f"""
WITH {_TF_SQL},
idf AS (
  SELECT t, ln((SELECT n FROM n_docs) / (1.0 + count(*))) AS idf
  FROM tf GROUP BY t
),
w AS (
  SELECT doc_id, t, tf * idf AS wt FROM tf JOIN idf USING (t)
),
norms AS (
  SELECT doc_id,
         sqrt(sum(CAST(round(wt * wt * 1e9) AS BIGINT)) / 1e9) AS nrm
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(sum(CAST(round(a.wt * b.wt * 1e9) AS BIGINT)) AS BIGINT) AS dq
  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       round((dq / 1e9) / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots
JOIN norms na ON na.doc_id = d1
JOIN norms nb ON nb.doc_id = d2
WHERE (dq / 1e9) / (na.nrm * nb.nrm) >= 0.5
ORDER BY d1, d2
""",
)
def tfidf_cosine_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = docs.count()  # scalar for the IDF constant
    idf = tf.groupBy("t").agg(
        F.log(F.lit(float(n_docs)) / (F.lit(1.0) + F.count(F.lit(1)))).alias(
            "idf"
        )
    )
    w = materialize(
        tf.join(broadcast_if_small(idf), "t").select(
            "doc_id", "t", (F.col("tf") * F.col("idf")).alias("wt")
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.round(F.col("wt") * F.col("wt") * 1e9).cast("long")) / 1e9
        ).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("d1"), "t", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("d2"), "t", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.round(F.col("wa") * F.col("wb") * 1e9).cast("long"))
            .cast("long")
            .alias("dq")
        )
    )
    na = norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("nb"))
    cos = (F.col("dq") / 1e9) / (F.col("na") * F.col("nb"))
    return (
        dots.join(broadcast_if_small(na), "d1")
        .join(broadcast_if_small(nb), "d2")
        .filter(cos >= 0.5)
        .select("d1", "d2", F.round(cos, 6).alias("cos_sim"))
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# Q: doc_self_information_topk — per-document mean token self-information
# −log₂ p(token) under the corpus unigram distribution: the "surprise"
# quality score that separates information-dense documents from stopword
# soup (low bits/token) — the statistical stand-in for an LM perplexity
# gate when no model is at hand (the bigram-LM gate is the modeled
# version; this is its zeroth-order twin). Each token's bit value is an
# identical IEEE expression quantized to 1e-9 BIGINT before the per-doc
# sum (exact in any order); the per-doc mean is a fixed-order readout.
# Top-15 most-surprising docs (tie-break doc_id). Scale: ONE (token)
# vocab rollup joined back through the size policy (vocab is NOT a
# broadcast dimension at web scale) + one doc-keyed aggregate.
# --------------------------------------------------------------------------
@query(
    "doc_self_information_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t
),
bits AS (
  SELECT toks.doc_id,
         CAST(round(-log2(c * 1.0 / n) * 1e9) AS BIGINT) AS bq
  FROM toks JOIN uni ON toks.t = uni.t CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(bq) AS BIGINT) AS sq
  FROM bits GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(sq / (n_tokens * 1e9), 6) AS mean_bits_per_token
FROM per_doc
ORDER BY mean_bits_per_token DESC, doc_id ASC
LIMIT 15
""",
)
def doc_self_information_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    uni = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    bits = (
        toks.join(broadcast_if_small(uni), "t")
        .join(F.broadcast(tot))  # 1-row scalar
        .select(
            "doc_id",
            F.round(-F.log2(F.col("c") * 1.0 / F.col("n")) * 1e9)
            .cast("long")
            .alias("bq"),
        )
    )
    per_doc = bits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("bq").cast("long").alias("sq"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            F.round(F.col("sq") / (F.col("n_tokens") * 1e9), 6).alias(
                "mean_bits_per_token"
            ),
        )
        .orderBy(F.col("mean_bits_per_token").desc(), F.col("doc_id").asc())
        .limit(15)
    )


# --------------------------------------------------------------------------
# Q: term_burstiness_topk — Church–Gale burstiness per term: mean
# occurrences per CONTAINING document (cf/df). A term with cf/df ≈ 1
# sprinkles uniformly; a high ratio concentrates in few docs — topical
# "bursty" vocabulary, the term-level complement of doc-level quality
# gates (and the statistic behind two-Poisson retrieval models). cf and
# df are exact BIGINTs from ONE (doc, term) rollup; the ratio is a
# fixed-order readout; top-15 by (burstiness DESC, term) with a df ≥ 3
# support floor so hapax noise can't top the chart. Scale: two
# map-side-combinable rollups, nothing corpus-sized after.
# --------------------------------------------------------------------------
@query(
    "term_burstiness_topk",
    oracle="""
WITH tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY doc_id, t
),
stats AS (
  SELECT t, CAST(sum(c) AS BIGINT) AS cf, CAST(count(*) AS BIGINT) AS df
  FROM tf GROUP BY t
)
SELECT t AS term, cf, df,
       round(cf * 1.0 / df, 6) AS burstiness
FROM stats
WHERE df >= 3
ORDER BY burstiness DESC, term ASC
LIMIT 15
""",
)
def term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    stats = tf.groupBy("t").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= 3)
        .select(
            F.col("t").alias("term"),
            "cf",
            "df",
            F.round(F.col("cf") * 1.0 / F.col("df"), 6).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), F.col("term").asc())
        .limit(15)
    )


# --------------------------------------------------------------------------
# Q: source_language_purity — per-source majority-language purity: the
# share of a source's documents in its dominant language, with the
# dominant language named (deterministic count-then-lang tiebreak). A
# crawler that claims to be an English news site but sits at 0.5 purity
# is mislabeled or mixing content — the one-number source-triage next to
# the KL/entropy mixture screens. Exact integer counts; purity ppm stays
# integer (floor) so the readout is integer arithmetic end to end.
# Scale: one (source, lang) rollup; the argmax window partitions by
# source over ≤|langs| rows each.
# --------------------------------------------------------------------------
@query(
    "source_language_purity",
    oracle="""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs FROM cells GROUP BY source
),
best AS (
  SELECT source, lang, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, lang ASC) AS rn
  FROM cells
)
SELECT b.source, b.lang AS dominant_lang, t.n_docs,
       b.n AS n_dominant,
       CAST(b.n * 1000000 // t.n_docs AS BIGINT) AS purity_ppm
FROM best b JOIN tot t ON b.source = t.source
WHERE b.rn = 1
ORDER BY b.source
""",
)
def source_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.groupBy("source").agg(F.sum("n").cast("long").alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    best = cells.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        best.join(broadcast_if_small(tot), "source")
        .select(
            "source",
            F.col("lang").alias("dominant_lang"),
            "n_docs",
            F.col("n").alias("n_dominant"),
            F.floor(F.col("n") * 1000000 / F.col("n_docs"))
            .cast("long")
            .alias("purity_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: lang_char_trigram_js — pairwise Jensen–Shannon divergence between the
# character-trigram distributions of each language pair: the language
# similarity matrix (es↔fr land close, zh far) that calibrates how much
# to trust the marker-lexicon language-ID near confusable pairs. JS =
# ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q), over the UNION trigram vocabulary —
# every term defined (no zero-division: a trigram absent from P
# contributes only through the Q-side term). Trigram counts are exact
# BIGINTs from one substring-explode pass; each JS term quantizes to a
# 1e-12 BIGINT before the vocab-sized fold (the established entropy
# ladder). Scale: one corpus pass → per-lang trigram tables; the pair
# space is (langs choose 2) joins over vocab-sized frames through the
# size policy.
# --------------------------------------------------------------------------
@query(
    "lang_char_trigram_js",
    oracle="""
WITH tri AS (
  SELECT lang, substr(text, i, 3) AS g
  FROM documents,
       (SELECT unnest(range(1, CAST((SELECT max(len(text)) FROM documents)
                                    AS BIGINT) - 1)) AS i)
  WHERE i <= len(text) - 2
),
cnt AS (
  SELECT lang, g, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY lang, g
),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY lang),
pairs AS (
  SELECT a.lang AS la, b.lang AS lb,
         COALESCE(ca.c, 0) * 1.0 / a.n AS p,
         COALESCE(cb.c, 0) * 1.0 / b.n AS q
  FROM (SELECT DISTINCT g FROM cnt) v
  CROSS JOIN tot a
  CROSS JOIN tot b
  LEFT JOIN cnt ca ON ca.lang = a.lang AND ca.g = v.g
  LEFT JOIN cnt cb ON cb.lang = b.lang AND cb.g = v.g
  WHERE a.lang < b.lang AND (ca.c IS NOT NULL OR cb.c IS NOT NULL)
),
terms AS (
  SELECT la, lb,
         CAST(round((
             CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
           + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END
         ) * 1e12) AS BIGINT) AS tq
  FROM pairs
)
SELECT la AS lang_a, lb AS lang_b,
       round(sum(tq) / 1e12, 6) AS js_divergence
FROM terms
GROUP BY la, lb
ORDER BY la, lb
""",
)
def lang_char_trigram_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tri = docs.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))")
        ).alias("g"),
    )
    cnt = materialize(
        tri.groupBy("lang", "g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    vocab = cnt.select("g").distinct()
    a = tot.select(F.col("lang").alias("la"), F.col("n").alias("na"))
    b = tot.select(F.col("lang").alias("lb"), F.col("n").alias("nb"))
    ca = cnt.select(
        F.col("lang").alias("la"), F.col("g"), F.col("c").alias("cca")
    )
    cb = cnt.select(
        F.col("lang").alias("lb"), F.col("g"), F.col("c").alias("ccb")
    )
    grid = (
        vocab.join(F.broadcast(a))
        .join(F.broadcast(b))
        .filter(F.col("la") < F.col("lb"))
        .join(broadcast_if_small(ca), ["la", "g"], "left")
        .join(broadcast_if_small(cb), ["lb", "g"], "left")
        .filter(F.col("cca").isNotNull() | F.col("ccb").isNotNull())
    )
    p = F.coalesce(F.col("cca"), F.lit(0)) * 1.0 / F.col("na")
    q = F.coalesce(F.col("ccb"), F.lit(0)) * 1.0 / F.col("nb")
    m = (p + q) / 2
    term = (
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    return (
        grid.select(
            "la",
            "lb",
            F.round(term * 1e12).cast("long").alias("tq"),
        )
        .groupBy("la", "lb")
        .agg(F.round(F.sum("tq") / 1e12, 6).alias("js_divergence"))
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            "js_divergence",
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# Q: boilerplate_prefix_census — template/boilerplate detection by
# prefix: the most frequent 8-token document PREFIXES with doc counts and
# distinct sources. A prefix carried by many docs across sources is a
# scraper template ("cookie banner", "nav header") that the passage-dedup
# face only catches once it repeats mid-document; anchoring at position 0
# is what makes it a TEMPLATE signal. The prefix is a deterministic
# substring of the token stream (array_join of slice, no per-row Python);
# counts exact. Top-10 by (n_docs DESC, prefix). Scale: one narrow map +
# one prefix-keyed rollup, map-side combinable.
# --------------------------------------------------------------------------
@query(
    "boilerplate_prefix_census",
    oracle="""
WITH pre AS (
  SELECT doc_id, source,
         array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
  FROM documents
  WHERE len(string_split(text, ' ')) >= 8
)
SELECT prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM pre
GROUP BY prefix
ORDER BY n_docs DESC, prefix ASC
LIMIT 10
""",
)
def boilerplate_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pre = docs.filter(F.size(toks) >= 8).select(
        "source",
        F.array_join(F.slice(toks, 1, 8), " ").alias("prefix"),
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("prefix").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q: doc_length_lognormal_params — distribution fitting for document
# lengths per source: the lognormal parameters (μ, σ of ln n_chars) plus
# the implied median exp(μ) — web-document lengths are canonically
# lognormal, and a source whose σ collapses is a fixed-template feed
# (the distribution-shape companion to the Zipf/Heaps/moments faces).
# Determinism ladder: ln(n_chars) quantizes to 1e-6 BIGINTs; Σ and Σ²
# are exact integer sums (|lq| ≤ 2e7 at 1e9-char docs → lq² ≤ 4e14,
# int64 to ~2e4 docs/source at test SF, DECIMAL beyond — stated); μ/σ/
# median are fixed-order readouts. Scale: one narrow map + a
# source-keyed aggregate.
# --------------------------------------------------------------------------
@query(
    "doc_length_lognormal_params",
    oracle="""
WITH q AS (
  SELECT source, CAST(round(ln(n_chars) * 1000000) AS BIGINT) AS lq
  FROM documents WHERE n_chars > 0
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lq) AS BIGINT) AS s1,
         CAST(sum(lq * lq) AS BIGINT) AS s2
  FROM q GROUP BY source
)
SELECT source, n AS n_docs,
       round(s1 * 1.0 / (n * 1000000.0), 6) AS mu_ln,
       round(sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
             / 1000000.0, 6) AS sigma_ln,
       round(exp(s1 * 1.0 / (n * 1000000.0)), 6) AS implied_median_chars
FROM s
ORDER BY source
""",
)
def doc_length_lognormal_params(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.filter(F.col("n_chars") > 0).select(
        "source",
        F.round(F.log("n_chars") * 1000000).cast("long").alias("lq"),
    )
    s = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lq").cast("long").alias("s1"),
        F.sum(F.col("lq") * F.col("lq")).cast("long").alias("s2"),
    )
    mu_q = F.col("s1") * 1.0 / F.col("n")
    var_q = F.col("s2") * 1.0 / F.col("n") - mu_q * mu_q
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(mu_q / 1000000.0, 6).alias("mu_ln"),
        F.round(F.sqrt(var_q) / 1000000.0, 6).alias("sigma_ln"),
        F.round(F.exp(mu_q / 1000000.0), 6).alias("implied_median_chars"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Q: vocab_spectrum_stats — the frequency-of-frequencies spectrum per
# source, folded into three canonical corpus statistics: hapax share
# (V1/V — how much of the vocabulary occurs once), Good–Turing unseen
# mass (N1/N — the probability the NEXT token is novel, the smoothing
# constant every LM estimates), and Yule's K = 1e4·(Σ m²·V(m) − N)/N²
# (the stylometry repeat-rate constant, scale-free in N). All three read
# out from ONE (source, token)→count pass followed by a count-of-counts
# rollup — exact BIGINTs until the fixed-order readouts (Σm²V(m) =
# Σc² over the tf table ≤ N·max_c, int64 headroom stated in the moments
# face). Scale: two map-side-combinable rollups, nothing corpus-sized
# after the first.
# --------------------------------------------------------------------------
@query(
    "vocab_spectrum_stats",
    oracle="""
WITH tf AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY source, t
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count_if(c = 1) AS BIGINT) AS v1,
         CAST(sum(c * c) AS BIGINT) AS sc2
  FROM tf GROUP BY source
)
SELECT source, v AS n_types, n AS n_tokens, v1 AS n_hapax,
       round(v1 * 1.0 / v, 6) AS hapax_share,
       round(v1 * 1.0 / n, 6) AS good_turing_unseen,
       round(10000.0 * (sc2 - n) / (n * 1.0 * n), 6) AS yules_k
FROM s
ORDER BY source
""",
)
def vocab_spectrum_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.count_if(F.col("c") == 1).cast("long").alias("v1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
    )
    return s.select(
        "source",
        F.col("v").alias("n_types"),
        F.col("n").alias("n_tokens"),
        F.col("v1").alias("n_hapax"),
        F.round(F.col("v1") * 1.0 / F.col("v"), 6).alias("hapax_share"),
        F.round(F.col("v1") * 1.0 / F.col("n"), 6).alias("good_turing_unseen"),
        F.round(
            10000.0 * (F.col("sc2") - F.col("n"))
            / (F.col("n") * 1.0 * F.col("n")),
            6,
        ).alias("yules_k"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Q: oov_rate_by_source — out-of-vocabulary rate per source against a
# fixed-budget vocabulary (top-K tokens by global count, count-desc /
# token-asc tiebreak). The tokenizer-coverage readout every LM data run
# computes before committing a vocab budget: which sources blow up into
# UNK / byte-fallback tokens. K = 16 here because the synthetic corpus has
# ~31 distinct tokens (a production run uses the tokenizer's real budget —
# the plan is identical). Scale: the vocab is a TakeOrdered top-K (never a
# global window), K rows forever, so the membership probe is a broadcast
# hash join against the exploded token stream under the size policy; one
# aggregate per source after that.
# --------------------------------------------------------------------------
@query(
    "oov_rate_by_source",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS n FROM tok GROUP BY t
    ORDER BY n DESC, t ASC LIMIT 16
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE vocab.t IS NULL) AS BIGINT) AS n_oov,
       round(CAST(count(*) FILTER (WHERE vocab.t IS NULL) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab ON tok.t = vocab.t
GROUP BY source
ORDER BY source
""",
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("t").asc())
        .limit(16)
        .select(F.col("t").alias("vt"))
    )
    probe = tok.join(
        broadcast_if_small(vocab), tok["t"] == F.col("vt"), "left"
    )
    return (
        probe.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_if(F.col("vt").isNull()).cast("long").alias("n_oov"),
            F.round(
                F.count_if(F.col("vt").isNull()).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q: kneser_ney_lm_scores — interpolated Kneser–Ney bigram scoring, the
# production-grade smoother the add-1 face (ngram_lm_perplexity) is the
# baseline for. Same trained-on-itself corpus-LM shape, but the
# probability is the real KN estimate
#   P(w2|w1) = (C(w1,w2) − d)/C(w1·) + λ(w1)·P_cont(w2),   d = 0.75
#   λ(w1)    = d · N1+(w1,·)/C(w1·)
#   P_cont(w2) = N1+(·,w2)/N1+(·,·)
# — continuation counts (HOW MANY contexts a word follows) instead of raw
# frequency, which is what stops high-frequency-but-fixed collocates
# ("Francisco") from leaking mass. Every term is a count-table ratio:
# bigram counts, left-context totals + distinct continuations (ONE
# grouped aggregate), distinct left-contexts per word, and the global
# distinct-bigram count (1-row broadcast) — so the whole model trains in
# three vocab-sized aggregates and scores through one bigram-keyed join,
# the identical dataflow budget as the add-1 face; every vocab-sized side
# goes through the size policy, never a hard-coded broadcast. Scored
# bigrams are all seen (the corpus scores itself), so the discounted term
# is always positive and the oracle needs no unseen-mass branch.
# --------------------------------------------------------------------------
@query(
    "kneser_ney_lm_scores",
    oracle=f"""
WITH {_BIGRAM_SQL},
big AS (SELECT t, t2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY t, t2),
lefts AS (
  SELECT t, CAST(count(*) AS BIGINT) AS cl,
         CAST(count(DISTINCT t2) AS BIGINT) AS n1f
  FROM pairs GROUP BY t
),
conts AS (
  SELECT t2, CAST(count(DISTINCT t) AS BIGINT) AS n1b FROM pairs GROUP BY t2
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM big),
scores AS (
  SELECT b.t, b.t2,
         ln((b.c2 - 0.75) / l.cl
            + (0.75 * l.n1f / l.cl) * (c.n1b * 1.0 / (SELECT nbig FROM nb)))
           AS lnp
  FROM big b JOIN lefts l ON b.t = l.t JOIN conts c ON b.t2 = c.t2
),
{_PER_DOC_XENT_SQL}
{_XENT_ROLLUP_SQL}
""",
)
def kneser_ney_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the pair stream feeds FOUR aggregates (bigram counts, left totals,
    # continuation counts, the scoring probe) — materialize it once so the
    # doc-keyed window exchange is paid once, not re-planned per branch
    pairs = materialize(_bigram_frames(docs, "doc_id", "source")[1])
    big = pairs.groupBy("t", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    lefts = pairs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("cl"),
        F.countDistinct("t2").cast("long").alias("n1f"),
    )
    conts = pairs.groupBy("t2").agg(
        F.countDistinct("t").cast("long").alias("n1b")
    )
    nb = big.agg(F.count(F.lit(1)).cast("long").alias("nbig"))
    scores = (
        big.join(broadcast_if_small(lefts), "t")
        .join(broadcast_if_small(conts), "t2")
        .crossJoin(F.broadcast(nb))  # 1-row scalar
        .select(
            "t",
            "t2",
            F.log(
                (F.col("c2") - 0.75) / F.col("cl")
                + (0.75 * F.col("n1f") / F.col("cl"))
                * (F.col("n1b") * F.lit(1.0) / F.col("nbig"))
            ).alias("lnp"),
        )
    )
    return _xent_by_source(pairs.join(broadcast_if_small(scores), ["t", "t2"]))


# --------------------------------------------------------------------------
# Q: dataset_card_documents — the dataset-card numbers a corpus release
# ships (HuggingFace dataset card / Datasheets-for-Datasets style), as ONE
# composed readout row: volume (docs, tokens, length percentiles),
# provenance breadth (sources, languages, English share), redundancy
# (exact-duplicate rate via fingerprint distinct), and a quality marker
# (mean stopword ratio). Everything reduces in a single corpus scan —
# count/sum/selection aggregates plus one distinct on the 16-byte
# fingerprint — so the card costs one pass at any scale; the median is
# the exact selection statistic over per-doc token counts (engine-stable
# integers). The value of the face is the COMPOSITION: every number here
# is individually pinned elsewhere (token stats, dedup, lang-ID), and the
# card proves they can be stated together without a second scan.
# --------------------------------------------------------------------------
@query(
    "dataset_card_documents",
    oracle="""
WITH d AS (
  SELECT source, lang,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','an','of','to','and','in','is'))) AS n_stop,
         md5(lower(trim(text))) AS f
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(CAST(n_tok AS DOUBLE)), 6) AS avg_doc_tokens,
       round(CAST(median(n_tok) AS DOUBLE), 6) AS p50_doc_tokens,
       round(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
             / count(*), 6) AS english_share,
       round(1.0 - CAST(count(DISTINCT f) AS DOUBLE) / count(*), 6)
         AS exact_dup_rate,
       round(avg(CAST(n_stop AS DOUBLE) / n_tok), 6) AS mean_stopword_ratio
FROM d
""",
)
def dataset_card_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_stop = _n_stopwords(toks)
    d = docs.select(
        "source",
        "lang",
        F.size(toks).alias("n_tok"),
        n_stop.alias("n_stop"),
        fingerprint(F.col("text")).alias("f"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.round(F.avg(F.col("n_tok").cast("double")), 6).alias(
            "avg_doc_tokens"
        ),
        F.round(F.median(F.col("n_tok")).cast("double"), 6).alias(
            "p50_doc_tokens"
        ),
        F.round(
            F.count_if(F.col("lang") == "en").cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("english_share"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("f").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
        F.round(
            F.avg(F.col("n_stop").cast("double") / F.col("n_tok")), 6
        ).alias("mean_stopword_ratio"),
    )


# --------------------------------------------------------------------------
# Q: source_quality_token_frontier — the data-mixing FRONTIER: rank
# sources by mean quality (stopword-ratio proxy, quantized to an exact
# integer mean before ranking), then read off the cumulative token budget
# as lower-quality sources are admitted. This is the curve a curation run
# consults to pick its quality cutoff — "the top-k sources buy N tokens".
# The corpus collapses to ONE row per source first; the running sum is a
# window over the ~20-row source table (post-aggregate, allowlisted like
# the other rollup windows). Quality mean is per-mille-quantized per doc
# then averaged as an exact integer ratio — no float-sum drift can
# reorder the frontier.
# --------------------------------------------------------------------------
@query(
    "source_quality_token_frontier",
    oracle="""
WITH d AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tok,
         CAST(round(len(list_filter(string_split(text, ' '),
              t -> t IN ('the','a','an','of','to','and','in','is')))
              * 1000.0 / len(string_split(text, ' '))) AS BIGINT) AS q_pm
  FROM documents WHERE len(string_split(text, ' ')) > 0
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         round(sum(q_pm) * 1.0 / count(*) / 1000.0, 6) AS mean_quality
  FROM d GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS all_tokens FROM per_src)
SELECT row_number() OVER w AS quality_rank,
       source, n_docs, n_tokens, mean_quality,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       round(CAST(sum(n_tokens) OVER w AS DOUBLE)
             / (SELECT all_tokens FROM tot), 6) AS cum_token_share
FROM per_src
WINDOW w AS (ORDER BY mean_quality DESC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY quality_rank
""",
)
def source_quality_token_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_stop = _n_stopwords(toks)
    d = docs.filter(F.size(toks) > 0).select(
        "source",
        F.size(toks).alias("n_tok"),
        F.round(n_stop * 1000.0 / F.size(toks)).cast("long").alias("q_pm"),
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(
            F.sum("q_pm") * F.lit(1.0) / F.count(F.lit(1)) / 1000.0, 6
        ).alias("mean_quality"),
    )
    per_src = materialize(per_src)  # ~20 rows; window + total both read it
    total = per_src.agg(F.sum("n_tokens").alias("all_tokens"))
    w = Window.orderBy(
        F.col("mean_quality").desc(), F.col("source").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("mean_quality").desc(), F.col("source").asc()
                )
            )
            .cast("long")
            .alias("quality_rank"),
            "source",
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.round(
                F.sum("n_tokens").over(w).cast("double")
                / F.col("all_tokens"),
                6,
            ).alias("cum_token_share"),
        )
        .orderBy("quality_rank")
    )


# --------------------------------------------------------------------------
# Q: sequence_packing_report — the step between a curated corpus and a
# training run: concat-then-chunk packing of each source shard's token
# stream into fixed 256-token training sequences (docs ordered by id,
# ordered cumulative offsets, chunk = offset // 256). Reports, per shard:
# sequence count, tail padding, the docs whose tokens SPAN a chunk
# boundary (the attention-masking cost of concat packing), and packing
# efficiency. Packing is inherently sequential WITHIN a stream, so the
# 100 TB form is exactly this shape: shard by source (a real pipeline
# shards finer — the key is free), one partitioned cumulative-sum window
# per shard, no global order anywhere. Integer token offsets end-to-end;
# the one ratio is rounded at the readout.
# --------------------------------------------------------------------------
@query(
    "sequence_packing_report",
    oracle="""
WITH d AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS nt FROM documents
),
x AS (
  SELECT source, nt,
         coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM d
),
agg AS (
  SELECT source,
         count(*) AS n_docs,
         sum(nt) AS n_tokens,
         sum(CASE WHEN (s // 256) <> ((s + nt - 1) // 256)
             THEN 1 ELSE 0 END) AS n_boundary_docs
  FROM x GROUP BY source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(ceil(n_tokens * 1.0 / 256) AS BIGINT) AS n_sequences,
       CAST(CAST(ceil(n_tokens * 1.0 / 256) AS BIGINT) * 256 - n_tokens
            AS BIGINT) AS padding_tokens,
       CAST(n_boundary_docs AS BIGINT) AS n_boundary_docs,
       round(n_tokens * 1.0
             / (CAST(ceil(n_tokens * 1.0 / 256) AS BIGINT) * 256), 6)
         AS packing_efficiency
FROM agg
ORDER BY source
""",
)
def sequence_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    L = 256
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens(F.col("text"))).alias("nt")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = docs.withColumn(
        "s", F.coalesce(F.sum("nt").over(w), F.lit(0)).cast("long")
    )
    spans = F.when(
        F.floor(F.col("s") / L) != F.floor((F.col("s") + F.col("nt") - 1) / L),
        F.lit(1),
    ).otherwise(F.lit(0))
    agg = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.sum(spans).cast("long").alias("n_boundary_docs"),
    )
    n_seq = F.ceil(F.col("n_tokens") / F.lit(float(L))).cast("long")
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        n_seq.alias("n_sequences"),
        (n_seq * L - F.col("n_tokens")).cast("long").alias("padding_tokens"),
        "n_boundary_docs",
        F.round(
            F.col("n_tokens") / (n_seq * L).cast("double"), 6
        ).alias("packing_efficiency"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Q: tokenizer_fertility_by_lang — tokenizer fertility (the budgeting
# number multilingual corpus work runs on): per language, BPE-ish tokens
# per whitespace word and characters per token, over the documents table
# with the repo's regex token counter (functions/text.token_count) —
# integer sums, one scan, ratios rounded at the readout. A fertility
# skew between languages is how a shared tokenizer silently taxes some
# of the corpus; this face is the per-shard readout that catches it.
# --------------------------------------------------------------------------
@query(
    "tokenizer_fertility_by_lang",
    oracle="""
WITH d AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_words,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS n_tokens,
         length(replace(text, ' ', '')) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(n_tokens) * 1.0 / sum(n_words), 6) AS tokens_per_word,
       round(sum(n_chars) * 1.0 / sum(n_tokens), 6) AS chars_per_token
FROM d
GROUP BY lang
ORDER BY lang
""",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_words"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_SPLIT), 0)
        ).alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("n_chars"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 6
            ).alias("tokens_per_word"),
            F.round(
                F.sum("n_chars") / F.sum("n_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Q: temporal_split_hygiene — train/eval TIME split audit (the ML-data
# twin of grouped_kfold_audit's user hygiene): cut the events stream at
# its 80% timestamp quantile computed on integer epoch-micros (exact,
# engine-portable), everything strictly before the cut trains, the rest
# evaluates. The leakage surface a time split does NOT remove — users
# active on BOTH sides — is counted explicitly, with the boundary
# contract (max train ts < cut <= min eval ts) as a hashed boolean. One
# scan + one user-keyed aggregate; the quantile is an exact sorted-count
# lookup, not an approx sketch, so the oracle reproduces it bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "temporal_split_hygiene",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
),
cut AS (
  SELECT tus AS c FROM e ORDER BY tus
  LIMIT 1 OFFSET (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) FROM e)
),
sides AS (
  SELECT user_id, tus,
         CASE WHEN tus < (SELECT c FROM cut) THEN 0 ELSE 1 END AS side
  FROM e
),
u AS (
  SELECT user_id,
         max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_train,
         max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_eval
  FROM sides GROUP BY user_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sides WHERE side = 0)
         AS n_train_events,
       (SELECT CAST(count(*) AS BIGINT) FROM sides WHERE side = 1)
         AS n_eval_events,
       CAST(sum(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_users_spanning,
       CAST(sum(CASE WHEN in_train = 1 AND in_eval = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_users_train_only,
       CAST(sum(CASE WHEN in_train = 0 AND in_eval = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_users_eval_only,
       (SELECT max(tus) FROM sides WHERE side = 0) < (SELECT c FROM cut)
         AND (SELECT min(tus) FROM sides WHERE side = 1) >= (SELECT c FROM cut)
         AS boundary_clean
FROM u
""",
)
def temporal_split_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("tus")
    )
    n = ev.count()
    # exact 80% order statistic: sort-limit to the offset row — a
    # two-scalar driver lookup (planner input), not a data collect
    cut = (
        ev.select("tus")
        .orderBy("tus")
        .offset(int(n * 8 // 10))
        .limit(1)
        .head()[0]
    )
    sides = materialize(
        ev.withColumn(
            "side", F.when(F.col("tus") < cut, 0).otherwise(1)
        )
    )
    u = sides.groupBy("user_id").agg(
        F.max(F.when(F.col("side") == 0, 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("side") == 1, 1).otherwise(0)).alias("in_eval"),
    )
    agg = sides.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_train_events"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_eval_events"),
        F.max(F.when(F.col("side") == 0, F.col("tus"))).alias("mx_train"),
        F.min(F.when(F.col("side") == 1, F.col("tus"))).alias("mn_eval"),
    ).head()
    users = u.agg(
        F.sum(
            F.when((F.col("in_train") == 1) & (F.col("in_eval") == 1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("spanning"),
        F.sum(
            F.when((F.col("in_train") == 1) & (F.col("in_eval") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("train_only"),
        F.sum(
            F.when((F.col("in_train") == 0) & (F.col("in_eval") == 1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("eval_only"),
    ).head()
    clean = bool(agg.mx_train < cut <= agg.mn_eval)
    return materialize(
        spark.createDataFrame(
            [
                (
                    agg.n_train_events,
                    agg.n_eval_events,
                    users.spanning,
                    users.train_only,
                    users.eval_only,
                    clean,
                )
            ],
            "n_train_events long, n_eval_events long, n_users_spanning long, "
            "n_users_train_only long, n_users_eval_only long, "
            "boundary_clean boolean",
        )
    )


# --------------------------------------------------------------------------
# Q: packed_token_shards — the END of the training-data pipeline (round 7):
# BPE vocab induction (operators/bpe.bpe_apply, 2 merge rounds) → corpus
# ENCODE (each ≥2-char word to its learned-merge symbols, symbols to
# dense vocab ids) → sequence PACKING (per-source global token order,
# 64-token sequences, id-0 padding on the tail) → a snapshot COMMIT of
# the packed array<long> shards partitioned by source → READ BACK. What
# previously stopped at three reports (bpe_learned_merges,
# sequence_packing_report, passage_dedup_rewrite) now lands as the
# artifact a training job mounts, and every property is proven on the
# READ-BACK table, not the pre-commit frame: token conservation
# (non-pad ids == encoded token count, a computed boolean), a per-source
# shard checksum over the exact id sequences (md5 of 'seq_id:ids' per
# shard, summed mod 1e9+7 — any id, order, or padding drift breaks the
# hash), and the vocab size. Packing is the scalable two-level form: a
# doc-keyed window ranks tokens within docs, a doc-LEVEL cumulative sum
# (one row per doc, not per token) assigns global offsets — no
# corpus-sized single-partition window.
# --------------------------------------------------------------------------
def _packed_shards_oracle(rounds: int = 2, L: int = 64) -> str:
    # the BPE unroll emitting the FINAL merged state w{rounds} (the
    # encoder's vocabulary view)
    parts = _bpe_ctes(rounds, final_state=True)
    body = f"""vocab AS MATERIALIZED (
  SELECT sym, row_number() OVER (ORDER BY sym) AS id
  FROM (SELECT DISTINCT unnest(syms) AS sym FROM w{rounds})
),
wsyms AS MATERIALIZED (
  SELECT s.wid, s.spos, v.id FROM (
    SELECT wid, u.spos, u.sym
    FROM w{rounds}, LATERAL (
      SELECT unnest(generate_series(1, len(syms))) AS spos,
             unnest(syms) AS sym
    ) u
  ) s JOIN vocab v ON v.sym = s.sym
),
doctoks AS MATERIALIZED (
  SELECT source, doc_id, i AS wpos, w[i] AS wid
  FROM (SELECT source, doc_id,
               string_split(lower(text), ' ') AS w FROM documents),
       (SELECT unnest(range(1,
          (SELECT max(len(string_split(lower(text), ' ')))
           FROM documents) + 1)) AS i)
  WHERE i <= len(w) AND len(w[i]) >= 2
),
enc AS MATERIALIZED (
  SELECT d.source, d.doc_id, d.wpos, s.spos, s.id
  FROM doctoks d JOIN wsyms s ON s.wid = d.wid
),
ordered AS (
  SELECT source, id,
         row_number() OVER (PARTITION BY source
                            ORDER BY doc_id, wpos, spos) - 1 AS gpos
  FROM enc
),
seqs AS (
  SELECT source, CAST(gpos // {L} AS BIGINT) AS seq_id,
         list(id ORDER BY gpos) AS ids_raw
  FROM ordered GROUP BY source, gpos // {L}
),
padded AS (
  SELECT source, seq_id,
         list_concat(ids_raw,
           list_transform(range({L} - len(ids_raw)),
                          x -> CAST(0 AS BIGINT))) AS ids
  FROM seqs
),
hashed AS (
  SELECT source, ids,
         CAST(('0x' || substr(md5(CAST(seq_id AS VARCHAR) || ':' ||
               array_to_string(ids, ',')), 1, 15)) AS BIGINT) AS h
  FROM padded
),
tok AS (SELECT source, count(*) AS nt FROM enc GROUP BY source)
SELECT h.source,
       CAST(count(*) AS BIGINT) AS n_sequences,
       CAST(sum(len(list_filter(ids, x -> x <> 0))) AS BIGINT) AS n_tokens,
       CAST(sum({L} - len(list_filter(ids, x -> x <> 0))) AS BIGINT)
         AS padding_tokens,
       (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS vocab_size,
       CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS shard_checksum,
       CAST(sum(len(list_filter(ids, x -> x <> 0))) AS BIGINT)
         = (SELECT nt FROM tok WHERE tok.source = h.source)
         AS conservation_ok
FROM hashed h
GROUP BY h.source
ORDER BY h.source"""
    return "WITH " + ",\n".join(parts) + ",\n" + body


@query("packed_token_shards", oracle=_packed_shards_oracle(2, 64))
def packed_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    L = 64
    docs = load_table(spark, sf_dir, "documents")
    state = bpe_apply(docs, rounds=2)  # (wid, freq, syms) post-merges
    vocab = materialize(
        state.select(F.explode("syms").alias("sym"))
        .distinct()
        .select(
            "sym",
            F.row_number()
            .over(Window.orderBy("sym"))  # vocab-sized, bounded
            .cast("long")
            .alias("id"),
        )
    )
    wsyms = (
        state.select("wid", F.posexplode("syms").alias("spos0", "sym"))
        .join(vocab, "sym")
        .select("wid", (F.col("spos0") + 1).alias("spos"), "id")
    )
    par = spark.sparkContext.defaultParallelism
    doctoks = (
        docs.repartition(par, F.col("doc_id"))
        .select(
            "source",
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
                "wpos0", "wid"
            ),
        )
        .filter(F.length("wid") >= 2)
        .select("source", "doc_id", (F.col("wpos0") + 1).alias("wpos"), "wid")
    )
    enc = materialize(
        doctoks.join(wsyms, "wid").select(
            "source", "doc_id", "wpos", "spos", "id"
        )
    )
    # THREE-level global position (round 8): token rank within its doc
    # (doc-keyed window) + doc offset within a doc-id RANGE GROUP
    # ((source, grp)-keyed cumsum — groups are contiguous doc_id ranges,
    # so the composed order is still exactly doc_id asc and the packing
    # bytes are identical) + a tiny cross-group offset table (one row
    # per group, broadcast back). The previous two-level form ran the
    # doc-offset cumsum in ONE task per source (a per-source window);
    # this one is fully parallel at any source skew — the only remaining
    # per-source window is over n_docs/G group rows.
    wdoc = Window.partitionBy("source", "doc_id").orderBy("wpos", "spos")
    ranked = enc.withColumn("ipos", F.row_number().over(wdoc).cast("long"))
    G = 1024  # docs per offset group
    docn = (
        enc.groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("nd"))
        .withColumn("grp", F.floor(F.col("doc_id") / G).cast("long"))
    )
    wgrp = (
        Window.partitionBy("source", "grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = docn.withColumn(
        "off_in_grp",
        F.coalesce(F.sum("nd").over(wgrp), F.lit(0)).cast("long"),
    )
    wg2 = (
        Window.partitionBy("source")
        .orderBy("grp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp_off = (
        docn.groupBy("source", "grp")
        .agg(F.sum("nd").alias("gn"))
        .withColumn(
            "goff", F.coalesce(F.sum("gn").over(wg2), F.lit(0)).cast("long")
        )
        .select("source", "grp", "goff")
    )
    offs = (
        within.join(F.broadcast(grp_off), ["source", "grp"])
        .select(
            "source",
            "doc_id",
            (F.col("goff") + F.col("off_in_grp")).alias("off"),
        )
    )
    g = ranked.join(offs, ["source", "doc_id"]).select(
        "source",
        "id",
        (F.col("off") + F.col("ipos") - 1).alias("gpos"),
    )
    shard_rows = (
        g.select(
            "source",
            F.floor(F.col("gpos") / L).cast("long").alias("seq_id"),
            (F.col("gpos") % L).alias("p"),
            "id",
        )
        .groupBy("source", "seq_id")
        .agg(F.array_sort(F.collect_list(F.struct("p", "id"))).alias("ps"))
        .select("source", "seq_id", F.col("ps.id").alias("ids_raw"))
    )
    padded = shard_rows.select(
        "source",
        "seq_id",
        F.concat(
            F.col("ids_raw"),
            F.array_repeat(
                F.lit(0).cast("long"), L - F.size("ids_raw")
            ),
        ).alias("ids"),
    )
    with scratch_dir("token_shards_") as root:
        table = SnapshotTable(root)
        table.commit(  # per-source shard writers, one file per source
            padded.repartition(8, "source"),
            mode="append",
            partition_by=["source"],
        )
        back = table.read(spark)  # every claim below is on the READ-BACK
        real = F.filter("ids", lambda x: x != 0)
        hashed = back.select(
            "source",
            F.size(real).cast("long").alias("n_real"),
            md5_long(
                F.concat_ws(
                    ":",
                    F.col("seq_id").cast("string"),
                    F.array_join(
                        F.transform("ids", lambda x: x.cast("string")), ","
                    ),
                )
            ).alias("h"),
        )
        pre_counts = enc.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("nt")
        )
        n_vocab = vocab.count()  # 1 scalar
        out = materialize(
            hashed.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sequences"),
                F.sum("n_real").cast("long").alias("n_tokens"),
                (F.count(F.lit(1)) * L - F.sum("n_real"))
                .cast("long")
                .alias("padding_tokens"),
                (F.sum(F.col("h") % 1000000007) % 1000000007)
                .cast("long")
                .alias("shard_checksum"),
            )
            .join(pre_counts, "source")
            .select(
                "source",
                "n_sequences",
                "n_tokens",
                "padding_tokens",
                F.lit(n_vocab).cast("long").alias("vocab_size"),
                "shard_checksum",
                (F.col("n_tokens") == F.col("nt")).alias("conservation_ok"),
            )
            .orderBy("source")
        )
    return out


# --------------------------------------------------------------------------
# Q: epoch_shard_shuffle — deterministic TRAINING-EPOCH shuffling: each
# epoch e permutes the corpus by the portable hash md5(doc_id || '#e')
# and deals docs to 8 workers by a second hash slice, so every epoch's
# read order is (a) reproducible from (doc_id, epoch) alone — no stored
# permutation, any worker can locate its share independently — and (b)
# decorrelated across epochs (the hashed row carries the COUNT of doc
# pairs adjacent in both epoch 0 and epoch 1 — hash independence makes
# repeats vanishingly rare, and the exact count is pinned). Ordering is
# two-level (16 hash-prefix groups, rank within group) so no window ever
# spans the corpus unpartitioned — the same 100 TB discipline as
# packed_token_shards; worker loads are the per-(epoch, worker) doc and
# char sums, hash-checked. This is the data-loader contract a 100 TB
# training run needs: epoch N's global order, computable shard-locally.
# --------------------------------------------------------------------------
@query(
    "epoch_shard_shuffle",
    oracle="""
WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
x AS (
  SELECT epoch, doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR))
           AS hh
  FROM documents, e
),
y AS (
  SELECT epoch, doc_id, n_chars, hh,
         substr(hh, 1, 1) AS grp,
         CAST(('0x' || substr(hh, 2, 15)) AS BIGINT) % 8 AS worker
  FROM x
),
p0 AS (
  SELECT doc_id AS a, lead(doc_id) OVER (PARTITION BY grp ORDER BY hh)
           AS b
  FROM y WHERE epoch = 0
),
p1 AS (
  SELECT doc_id AS a, lead(doc_id) OVER (PARTITION BY grp ORDER BY hh)
           AS b
  FROM y WHERE epoch = 1
),
rep AS (SELECT CAST(count(*) AS BIGINT) AS c FROM p0 JOIN p1 USING (a, b))
SELECT epoch,
       worker,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       (SELECT c FROM rep) AS repeated_adjacent_01
FROM y
GROUP BY epoch, worker
ORDER BY epoch, worker
""",
)
def epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )

    def epoch_view(e: int) -> DataFrame:
        h = F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f"#{e}"))
        )
        return (
            docs.withColumn("epoch", F.lit(e))
            .withColumn("hh", h)
            .withColumn("grp", F.substring("hh", 1, 1))
            .withColumn(
                "worker",
                F.conv(F.substring("hh", 2, 15), 16, 10).cast("long")
                % 8,
            )
        )

    all_epochs = epoch_view(0).unionByName(epoch_view(1)).unionByName(
        epoch_view(2)
    )
    w = Window.partitionBy("grp").orderBy("hh")

    def pairs(e: int) -> DataFrame:
        return (
            epoch_view(e)
            .withColumn("b", F.lead("doc_id").over(w))
            .select(F.col("doc_id").alias("a"), "b")
            .filter(F.col("b").isNotNull())
        )

    repeated = pairs(0).join(pairs(1), ["a", "b"]).count()
    return (
        all_epochs.groupBy("epoch", "worker")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn(
            "repeated_adjacent_01", F.lit(int(repeated)).cast("long")
        )
        .orderBy("epoch", "worker")
    )
