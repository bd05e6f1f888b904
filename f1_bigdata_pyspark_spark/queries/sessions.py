"""Sessionization and as-of join — the two classic event-stream operators a
training-data / clickstream pipeline needs that plain SQL aggregation does
not give directly (capability extension; the reference's only temporal
notion is per-race batch ingest, ``ingest_season_laps.py:121-147``).

Both are expressed relationally (window functions over a per-user
partition), so they scale horizontally: state for one user never crosses an
executor, and the only shuffle is the hash partition on ``user_id``.

- user_sessions: gap-based sessionization (30-min inactivity), the batch
  twin of Structured Streaming's ``session_window`` — lag → new-session
  flag → running sum = session id. All time math is done on integer
  microseconds (``unix_micros``) so the DuckDB oracle computes bit-identical
  values.
- asof_click_before_purchase: for every purchase, the most recent prior (or
  simultaneous) click by the same user — the as-of join. Implemented as a
  tagged union + ``last(ignorenulls)`` running window rather than a range
  join: one shuffle on user_id, no candidate blow-up, works at any key
  cardinality. Oracle uses DuckDB's native ASOF LEFT JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_bigdata_pyspark_spark.catalog import load_table
from f1_bigdata_pyspark_spark.queries.registry import query

_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in microseconds


# --------------------------------------------------------------------------
# Q: user_sessions — gap-based sessionization per user.
# --------------------------------------------------------------------------
@query(
    "user_sessions",
    oracle=f"""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
  FROM events
), f AS (
  SELECT user_id, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), g AS (
  SELECT user_id, sess, count(*) AS n_events,
         max(ts_us) - min(ts_us) AS dur_us
  FROM s GROUP BY user_id, sess
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(sum(dur_us) / (count(*) * 1000000.0), 3) AS avg_session_s
FROM g GROUP BY user_id ORDER BY user_id
""",
    bench=True,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = events.select("user_id", F.unix_micros("ts").alias("ts_us"))
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = (
        flagged.withColumn("sess", F.sum("new_s").over(run))
        .groupBy("user_id", "sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
        )
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(
                F.sum("dur_us") / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 3
            ).alias("avg_session_s"),
        )
        # no trailing display orderBy (r11): order-insensitive hash gate;
        # keeps the query at exactly one data exchange (user_id).
    )


# --------------------------------------------------------------------------
# Q: asof_click_before_purchase — as-of join via operators/asof
# (tagged union + running last(ignorenulls) — the shared operator this
# module's original inline form grew into). Gap stats kept in integer
# microseconds until the final division so both engines compute the
# identical double.
# --------------------------------------------------------------------------
@query(
    "asof_click_before_purchase",
    oracle="""
WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
     m AS (
       SELECT epoch_us(p.ts) - epoch_us(c_ts) AS gap_us
       FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.c_ts
     )
SELECT count(*) AS n_purchases,
       count(gap_us) AS n_matched,
       round(sum(gap_us) / (count(gap_us) * 1000000.0), 3) AS avg_gap_s
FROM m
""",
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.asof import asof_join_backward

    events = load_table(spark, sf_dir, "events")
    probes = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    # No dedup of duplicate (user, ts) clicks: the carried payload IS the
    # timestamp, so equal-ts duplicates are indistinguishable and the match
    # stays deterministic — skipping the distinct saves a full exchange.
    states = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    ).withColumn("click_ts", F.col("ts"))
    matched = asof_join_backward(
        probes, states, "user_id", "ts", ["click_ts"]
    ).select(
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us")
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("gap_us").alias("n_matched"),
        F.round(
            F.sum("gap_us") / (F.count("gap_us") * F.lit(1_000_000.0)), 3
        ).alias("avg_gap_s"),
    )


# --------------------------------------------------------------------------
# Q: session_window_overlap — interval-overlap join: the gap-based session
# intervals (user_sessions logic) joined against a tiny fixed table of
# maintenance windows on the half-open overlap predicate
# (s.start < w.end AND w.start < s.end). The window table broadcasts, so
# the non-equi join never shuffles the session side — the same physical
# shape as value_tier_range_join, but on time intervals.
# NULL users are not counted: events with a NULL user_id form sessions of
# their own, which count in n_sessions, but n_users counts distinct
# non-NULL ids (countDistinct here, count(DISTINCT ...) in the oracle).
# --------------------------------------------------------------------------
_MAINT_WINDOWS = [
    ("W1", "2024-01-05 00:00:00", "2024-01-07 00:00:00"),
    ("W2", "2024-01-15 12:00:00", "2024-01-16 00:00:00"),
    ("W3", "2024-01-25 00:00:00", "2024-01-28 00:00:00"),
]


def _windows_sql() -> str:
    rows = ", ".join(
        f"('{n}', TIMESTAMP '{a}', TIMESTAMP '{b}')" for n, a, b in _MAINT_WINDOWS
    )
    return f"(VALUES {rows}) AS w(win_name, w_start, w_end)"


@query(
    "session_window_overlap",
    oracle=f"""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
  FROM events
), f AS (
  SELECT user_id, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), iv AS (
  SELECT user_id, sess, min(ts_us) AS s_start, max(ts_us) AS s_end
  FROM s GROUP BY user_id, sess
)
SELECT win_name,
       count(*) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM iv JOIN {_windows_sql()}
  ON iv.s_start < epoch_us(w.w_end) AND epoch_us(w.w_start) < iv.s_end
GROUP BY win_name
ORDER BY win_name
""",
)
def session_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = events.select("user_id", F.unix_micros("ts").alias("ts_us"))
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            1,
        ).otherwise(0),
    )
    iv = (
        flagged.withColumn("sess", F.sum("new_s").over(run))
        .groupBy("user_id", "sess")
        .agg(F.min("ts_us").alias("s_start"), F.max("ts_us").alias("s_end"))
    )
    from f1_bigdata_pyspark_spark.operators.join_policy import local_dim

    # local_dim -> LocalRelation with real stats: the range-join broadcast
    # below is planner-approved instead of hint-forced on a +inf estimate
    spark_w = local_dim(
        events.sparkSession,
        _MAINT_WINDOWS,
        "win_name string, w_start string, w_end string",
    ).select(
        "win_name",
        F.unix_micros(F.col("w_start").cast("timestamp")).alias("w_start_us"),
        F.unix_micros(F.col("w_end").cast("timestamp")).alias("w_end_us"),
    )
    overlap = iv.join(
        F.broadcast(spark_w),
        (F.col("s_start") < F.col("w_end_us"))
        & (F.col("w_start_us") < F.col("s_end")),
    )
    return (
        overlap.groupBy("win_name")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("win_name")
    )


# --------------------------------------------------------------------------
# Q: purchase_funnel — funnel analysis: for every purchase, was there a
# click within the preceding hour, and a view within the preceding hour?
# Same machinery as the as-of join (running last(ignorenulls) per event
# type over the user window — one shuffle on user_id, no self-joins, no
# candidate blow-up), evaluated at the purchase rows only, rolled up to
# global funnel counts and conversion rates.
# --------------------------------------------------------------------------
_FUNNEL_WINDOW_US = 3_600 * 1_000_000  # 1 hour


@query(
    "purchase_funnel",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
  FROM events
), m AS (
  SELECT user_id, event_type, ts_us,
         last_value(CASE WHEN event_type = 'click' THEN ts_us END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_click_us,
         last_value(CASE WHEN event_type = 'view' THEN ts_us END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_view_us
  FROM t
), p AS (
  SELECT ts_us, last_click_us, last_view_us FROM m
  WHERE event_type = 'purchase'
)
SELECT count(*) AS n_purchases,
       CAST(count_if(ts_us - last_click_us <= {_FUNNEL_WINDOW_US})
            AS BIGINT) AS n_click_1h,
       CAST(count_if(ts_us - last_click_us <= {_FUNNEL_WINDOW_US}
                     AND ts_us - last_view_us <= {_FUNNEL_WINDOW_US})
            AS BIGINT) AS n_view_click_1h,
       round(count_if(ts_us - last_click_us <= {_FUNNEL_WINDOW_US})
             * 1.0 / count(*), 6) AS click_conv,
       round(count_if(ts_us - last_click_us <= {_FUNNEL_WINDOW_US}
                      AND ts_us - last_view_us <= {_FUNNEL_WINDOW_US})
             * 1.0 / count(*), 6) AS full_conv
FROM p
""",
)
def purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    m = t.select(
        "event_type",
        "ts_us",
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_us"),
        F.last(view_ts, ignorenulls=True).over(w).alias("last_view_us"),
    )
    p = m.filter(F.col("event_type") == "purchase")
    clicked = (F.col("ts_us") - F.col("last_click_us")) <= _FUNNEL_WINDOW_US
    viewed = (F.col("ts_us") - F.col("last_view_us")) <= _FUNNEL_WINDOW_US
    return p.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count_if(clicked).alias("n_click_1h"),
        F.count_if(clicked & viewed).alias("n_view_click_1h"),
        F.round(
            F.count_if(clicked).cast("double") / F.count(F.lit(1)), 6
        ).alias("click_conv"),
        F.round(
            F.count_if(clicked & viewed).cast("double") / F.count(F.lit(1)), 6
        ).alias("full_conv"),
    )


# --------------------------------------------------------------------------
# Q: weekly_retention_cohorts — cohort retention: users grouped by their
# FIRST active week, then counted as active in each subsequent week —
# the retention matrix behind every growth dashboard. Two keyed
# aggregations + one join on user_id; week offsets computed as exact
# day-diff DIV 7 over week-truncated dates so both engines agree.
# --------------------------------------------------------------------------
@query(
    "weekly_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, act_week) // 7 AS BIGINT)
         AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM firsts JOIN activity USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").cast("date")
    firsts = events.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = events.select(
        "user_id", week.alias("act_week")
    ).distinct()
    joined = firsts.join(activity, "user_id")
    offset = F.expr(
        "CAST(datediff(act_week, cohort_week) DIV 7 AS BIGINT)"
    )
    return (
        joined.groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Q: event_transition_matrix — first-order Markov model of user behavior:
# P(next event type | current event type), estimated from every adjacent
# pair in each user's timeline (lag/lead over the user_id-keyed order, the
# sessionization exchange reused). This is the user-journey model behind
# funnel design and next-action prediction — and the events-stream sibling
# of the bigram LM on documents (ngram_lm_perplexity): same counting, a
# different modality. One user-keyed window pass + one (cur, next)
# aggregate; probabilities are exact count ratios rounded identically in
# both engines. Ordering ties broken by event_id so both engines see the
# same timeline.
# --------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
row_totals AS (SELECT cur, count(*) AS n_cur FROM pairs GROUP BY cur)
SELECT p.cur, p.nxt,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(count(*) * 1.0 / any_value(t.n_cur), 6) AS p_next
FROM pairs p JOIN row_totals t ON p.cur = t.cur
GROUP BY p.cur, p.nxt
ORDER BY p.cur, p.nxt
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    counts = pairs.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    row_totals = counts.groupBy("cur").agg(
        F.sum("n_pairs").alias("n_cur")
    )
    return (
        counts.join(row_totals, "cur")
        .select(
            "cur",
            "nxt",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("n_pairs") / F.col("n_cur"), 6).alias("p_next"),
        )
        .orderBy("cur", "nxt")
    )


# --------------------------------------------------------------------------
# Q: daily_new_vs_returning — the product-analytics daily-active split:
# each day's distinct users classified as NEW (first-ever activity that
# day) or RETURNING. Two user-keyed aggregates (first-seen day, then
# per-(day, user) distinct) sharing the user_id partitioning, then a
# day-level rollup — the first-seen table is the per-user dimension every
# growth dashboard joins against, user-keyed and broadcastable after
# reduction.
# --------------------------------------------------------------------------
@query(
    "daily_new_vs_returning",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS fday
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day, e.user_id, f.fday
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  GROUP BY 1, 2, 3
)
SELECT day,
       CAST(count(*) FILTER (fday = day) AS BIGINT) AS new_users,
       CAST(count(*) FILTER (fday < day) AS BIGINT) AS returning_users
FROM daily
GROUP BY day
ORDER BY day
""",
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.join_policy import (
        broadcast_if_small,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("fday"))
    daily = ev.distinct().join(broadcast_if_small(first_seen), "user_id")
    return (
        daily.groupBy("day")
        .agg(
            F.sum(F.when(F.col("fday") == F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("fday") < F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Q: session_covisit_lift — market-basket association over SESSIONS: for
# every pair of event types co-occurring in a 30-min-gap session (same
# spec as user_sessions), the lift P(a,b) / (P(a)·P(b)) with session as
# the unit of observation — the co-visitation statistic behind
# "users who viewed X also..." recommenders. The pair space is
# Σ C(types-per-session, 2) ≤ C(5,2) per session — bounded by the type
# vocabulary, never by events. All counts are integers; lift is one
# rational per pair, rounded at the end.
# --------------------------------------------------------------------------
@query(
    "session_covisit_lift",
    oracle=f"""
WITH o AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
  FROM events
), f AS (
  SELECT user_id, event_type, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), st AS (
  SELECT DISTINCT user_id, sess, event_type FROM s
), n AS (SELECT count(DISTINCT (user_id, sess)) AS n_sessions FROM st),
tc AS (
  SELECT event_type, count(*) AS n FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_both
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sess = b.sess
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.ta, p.tb,
       CAST(p.n_both AS BIGINT) AS n_both,
       round(CAST(p.n_both AS DOUBLE) * (SELECT n_sessions FROM n)
             / (ca.n * cb.n), 6) AS lift
FROM pairs p
JOIN tc ca ON ca.event_type = p.ta
JOIN tc cb ON cb.event_type = p.tb
ORDER BY ta, tb
""",
)
def session_covisit_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.operators.join_policy import broadcast_if_small

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            1,
        ).otherwise(0),
    )
    st = (
        flagged.withColumn("sess", F.sum("new_s").over(run))
        .select("user_id", "sess", "event_type")
        .distinct()
    )
    from f1_bigdata_pyspark_spark.utils import materialize

    st = materialize(st)  # read by n, tc, and both pair-join sides
    n_sessions = st.select("user_id", "sess").distinct().count()
    tc = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = st.select("user_id", "sess", F.col("event_type").alias("ta"))
    b = st.select("user_id", "sess", F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, ["user_id", "sess"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = broadcast_if_small(
        tc.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
    )
    cb = broadcast_if_small(
        tc.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
    )
    return (
        pairs.join(ca, "ta")
        .join(cb, "tb")
        .select(
            "ta",
            "tb",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both").cast("double")
                * F.lit(n_sessions)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy("ta", "tb")
    )


# --------------------------------------------------------------------------
# Q: multitouch_attribution — revenue credit assignment across the touch
# path: for every purchase, the user's touches (non-purchase events)
# since their PREVIOUS purchase share the purchase's value under three
# industry models at once — first-touch (all credit to the earliest),
# last-touch (to the latest), linear (1/k each). Relational build: a
# running purchase-counter window segments each user's stream into
# conversion windows, then one aggregate per (window, model). Credit
# fractions are exact rationals (value quantized to cents, divided
# once); per-type rollup rounded at the end. Scale: one user-keyed
# exchange, windows never cross users.
# --------------------------------------------------------------------------
@query(
    "multitouch_attribution",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS pnum
  FROM events
), touches AS (
  -- events in conversion window w: touches carry pnum = w-1 (they precede
  -- the w-th purchase); the purchase row itself carries pnum = w
  SELECT user_id, event_type, ts_us, event_id, pnum + 1 AS win
  FROM seq WHERE event_type <> 'purchase'
), conv AS (
  SELECT user_id, pnum AS win, cents FROM seq WHERE event_type = 'purchase'
), joined AS (
  SELECT t.user_id, t.event_type, t.ts_us, t.event_id, t.win, c.cents,
         count(*) OVER (PARTITION BY t.user_id, t.win) AS k,
         row_number() OVER (PARTITION BY t.user_id, t.win
                            ORDER BY t.ts_us, t.event_id) AS rn_first,
         row_number() OVER (PARTITION BY t.user_id, t.win
                            ORDER BY t.ts_us DESC, t.event_id DESC)
           AS rn_last
  FROM touches t JOIN conv c ON c.user_id = t.user_id AND c.win = t.win
)
SELECT event_type,
       round(sum(CASE WHEN rn_first = 1 THEN cents ELSE 0 END)
             / 100.0, 2) AS first_touch_credit,
       round(sum(CASE WHEN rn_last = 1 THEN cents ELSE 0 END)
             / 100.0, 2) AS last_touch_credit,
       round(sum(CAST(cents AS DOUBLE) / k) / 100.0, 2) AS linear_credit
FROM joined
GROUP BY event_type
ORDER BY event_type
""",
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .over(run)
        .alias("pnum"),
    )
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        (F.col("pnum") + 1).alias("win"),
    )
    conv = seq.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("pnum").alias("win"), "cents"
    )
    joined = touches.join(conv, ["user_id", "win"])
    pw = Window.partitionBy("user_id", "win")
    first_w = pw.orderBy("ts_us", "event_id")
    last_w = pw.orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    scored = joined.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(pw).alias("k"),
        F.row_number().over(first_w).alias("rn_first"),
        F.row_number().over(last_w).alias("rn_last"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("rn_first") == 1, F.col("cents")).otherwise(0)
                )
                / 100.0,
                2,
            ).alias("first_touch_credit"),
            F.round(
                F.sum(
                    F.when(F.col("rn_last") == 1, F.col("cents")).otherwise(0)
                )
                / 100.0,
                2,
            ).alias("last_touch_credit"),
            F.round(
                F.sum(F.col("cents").cast("double") / F.col("k")) / 100.0, 2
            ).alias("linear_credit"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q: session_top_paths — frequent behaviour paths: the top 10 three-step
# event-type sequences (consecutive, within a 30-min session), the
# path-mining readout behind "how do users reach a purchase". Two lag
# windows give the triple at each position; counts are plain integers.
# Scale: one user-keyed exchange; triples are corpus-linear and the
# rollup is vocabulary-cubed at most.
# --------------------------------------------------------------------------
@query(
    "session_top_paths",
    oracle=f"""
WITH o AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events
), f AS (
  SELECT user_id, event_type, ts_us, event_id,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, event_type, ts_us, event_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), tri AS (
  SELECT user_id, sess, event_type AS c,
         lag(event_type, 1) OVER (PARTITION BY user_id, sess
                                  ORDER BY ts_us, event_id) AS b,
         lag(event_type, 2) OVER (PARTITION BY user_id, sess
                                  ORDER BY ts_us, event_id) AS a
  FROM s
)
SELECT a || '>' || b || '>' || c AS path, count(*) AS n
FROM tri WHERE a IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path ASC
LIMIT 10
""",
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(wu).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(wu)) > _GAP_US),
            1,
        ).otherwise(0),
    )
    s = flagged.withColumn("sess", F.sum("new_s").over(run))
    ws = Window.partitionBy("user_id", "sess").orderBy("ts_us", "event_id")
    tri = s.select(
        F.lag("event_type", 2).over(ws).alias("a"),
        F.lag("event_type", 1).over(ws).alias("b"),
        F.col("event_type").alias("c"),
    ).filter(F.col("a").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "a", "b", "c").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q: builtin_session_window_histogram — Spark's NATIVE session_window
# aggregation (the SessionWindow physical operator, dynamic-gap capable),
# pinned against the first-principles gap-island construction the DuckDB
# oracle states. ``user_sessions`` builds sessions manually (lag → flag →
# running sum); this face proves the built-in operator computes the same
# partition — the parity check that licenses using the native operator in
# streaming (where the manual window form isn't available). Semantics
# pinned: Spark's session interval is [first_ts, last_ts + gap), so an
# event arriving EXACTLY gap after the previous one falls outside (>= in
# the island rule, where the manual face uses >; distinct semantics, both
# stated). Output is the session-size histogram plus exact-integer
# microsecond duration sums — no per-session rows cross the comparison.
# Scale: one user-keyed exchange (groupBy user + session_window), then a
# histogram-sized rollup; state is O(#open sessions) in streaming.
# --------------------------------------------------------------------------
@query(
    "builtin_session_window_histogram",
    oracle=f"""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
  FROM events
), f AS (
  SELECT user_id, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us >= {_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), g AS (
  SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(ts_us) - min(ts_us) AS BIGINT) AS dur_us
  FROM s GROUP BY user_id, sess
)
SELECT n_events AS session_size,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(dur_us) AS BIGINT) AS total_dur_us
FROM g GROUP BY n_events ORDER BY n_events
""",
)
def builtin_session_window_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_session = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            .cast("long")
            .alias("dur_us"),
        )
    )
    return (
        per_session.groupBy(F.col("n_events").alias("session_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("dur_us").cast("long").alias("total_dur_us"),
        )
        .orderBy("session_size")
    )


# --------------------------------------------------------------------------
# Q: arm_funnel_lift — experimentation × funnel composition: the purchase
# funnel (view→click→purchase within 1 h, running-last stage timestamps)
# computed PER EXPERIMENT ARM (same md5 user split as ab_test_welch), with
# the treatment lift on full-funnel conversion read out against control.
# This is the readout an A/B platform actually serves — not a metric mean
# (ab_test_welch) but a behavioral conversion contrast. Determinism:
# stage attribution is the funnel face's integer-microsecond window
# arithmetic; counts are exact; conversions and lift are fixed-order
# readouts. Scale: ONE user-keyed window exchange (arm is a pure hash of
# the key — no extra shuffle), then a 2-row rollup.
# --------------------------------------------------------------------------
@query(
    "arm_funnel_lift",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 2 = 0 THEN 'T' ELSE 'C' END AS arm
  FROM events
), m AS (
  SELECT arm, event_type, ts_us,
         last_value(CASE WHEN event_type = 'click' THEN ts_us END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_click_us,
         last_value(CASE WHEN event_type = 'view' THEN ts_us END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_view_us
  FROM t
), p AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(count_if(ts_us - last_click_us <= {_FUNNEL_WINDOW_US}
                       AND ts_us - last_view_us <= {_FUNNEL_WINDOW_US})
              AS BIGINT) AS n_full
  FROM m WHERE event_type = 'purchase' GROUP BY arm
),
wide AS (
  SELECT
    max(CASE WHEN arm = 'T' THEN n_purchases END) AS t_n,
    max(CASE WHEN arm = 'T' THEN n_full END) AS t_full,
    max(CASE WHEN arm = 'C' THEN n_purchases END) AS c_n,
    max(CASE WHEN arm = 'C' THEN n_full END) AS c_full
  FROM p
)
SELECT CAST(t_n AS BIGINT) AS t_purchases, CAST(t_full AS BIGINT) AS t_full,
       CAST(c_n AS BIGINT) AS c_purchases, CAST(c_full AS BIGINT) AS c_full,
       round(CASE WHEN t_n > 0 THEN t_full * 1.0 / t_n END, 6) AS t_conv,
       round(CASE WHEN c_n > 0 THEN c_full * 1.0 / c_n END, 6) AS c_conv,
       round(CASE WHEN t_n > 0 AND c_n > 0 AND c_full > 0
                  THEN (t_full * 1.0 / t_n) / (c_full * 1.0 / c_n) - 1.0
             END, 6) AS relative_lift
FROM wide
""",
)
def arm_funnel_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_bigdata_pyspark_spark.functions.text import md5_long

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(md5_long(F.col("user_id").cast("string")) % 2 == 0, "T")
        .otherwise("C")
        .alias("arm"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    m = t.select(
        "arm",
        "event_type",
        "ts_us",
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_us"),
        F.last(view_ts, ignorenulls=True).over(w).alias("last_view_us"),
    )
    full = (
        (F.col("ts_us") - F.col("last_click_us")) <= _FUNNEL_WINDOW_US
    ) & ((F.col("ts_us") - F.col("last_view_us")) <= _FUNNEL_WINDOW_US)
    p = (
        m.filter(F.col("event_type") == "purchase")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.count_if(full).cast("long").alias("n_full"),
        )
    )
    wide = p.agg(
        F.max(F.when(F.col("arm") == "T", F.col("n_purchases"))).alias("t_n"),
        F.max(F.when(F.col("arm") == "T", F.col("n_full"))).alias("t_full"),
        F.max(F.when(F.col("arm") == "C", F.col("n_purchases"))).alias("c_n"),
        F.max(F.when(F.col("arm") == "C", F.col("n_full"))).alias("c_full"),
    )
    # guarded division: a small-SF arm can convert zero purchases, and the
    # lift is undefined (NULL) when the control conversion is zero
    t_conv = F.when(
        F.col("t_n") > 0, F.col("t_full") * 1.0 / F.col("t_n")
    )
    c_conv = F.when(
        F.col("c_n") > 0, F.col("c_full") * 1.0 / F.col("c_n")
    )
    lift = F.when(
        (F.col("t_n") > 0) & (F.col("c_n") > 0) & (F.col("c_full") > 0),
        (F.col("t_full") * 1.0 / F.col("t_n"))
        / (F.col("c_full") * 1.0 / F.col("c_n"))
        - 1.0,
    )
    return wide.select(
        F.col("t_n").cast("long").alias("t_purchases"),
        F.col("t_full").cast("long").alias("t_full"),
        F.col("c_n").cast("long").alias("c_purchases"),
        F.col("c_full").cast("long").alias("c_full"),
        F.round(t_conv, 6).alias("t_conv"),
        F.round(c_conv, 6).alias("c_conv"),
        F.round(lift, 6).alias("relative_lift"),
    )


# --------------------------------------------------------------------------
# Q: repeat_purchase_timing — retention economics: how many purchasers
# come back, and how fast? Share of purchasing users with a second
# purchase, plus the exact p50/p90 of days between first and second
# purchase (integer-histogram percentile — the 100·cum ≥ q·total rule,
# no interpolation). The row_number over each user's purchases needs a
# TOTAL order: (ts, event_id) — synthetic events can collide on ts.
# Scale: one user-keyed window exchange, then a bounded day-histogram;
# all counts exact BIGINTs.
# --------------------------------------------------------------------------
@query(
    "repeat_purchase_timing",
    oracle="""
WITH p AS (
  SELECT user_id, ts, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events WHERE event_type = 'purchase'
),
firsts AS (SELECT user_id, ts_us AS t1 FROM p WHERE rn = 1),
seconds AS (SELECT user_id, ts_us AS t2 FROM p WHERE rn = 2),
gaps AS (
  SELECT CAST((t2 - t1) // 86400000000 AS BIGINT) AS days
  FROM firsts JOIN seconds USING (user_id)
),
h AS (SELECT days, CAST(count(*) AS BIGINT) AS n FROM gaps GROUP BY days),
c AS (
  SELECT days, n,
         CAST(sum(n) OVER (ORDER BY days ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM h
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM firsts) AS n_purchasers,
       (SELECT CAST(count(*) AS BIGINT) FROM seconds) AS n_repeaters,
       round((SELECT count(*) FROM seconds) * 1.0
             / (SELECT count(*) FROM firsts), 6) AS repeat_rate,
       CAST(min(CASE WHEN 100 * cum >= 50 * total THEN days END) AS BIGINT)
         AS p50_days_to_second,
       CAST(min(CASE WHEN 100 * cum >= 90 * total THEN days END) AS BIGINT)
         AS p90_days_to_second
FROM c
""",
)
def repeat_purchase_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events = load_table(spark, sf_dir, "events")
    p = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "rn")
    )
    from f1_bigdata_pyspark_spark.utils import materialize

    p = materialize(p.filter(F.col("rn") <= 2))
    firsts = p.filter(F.col("rn") == 1).select(
        "user_id", F.col("ts_us").alias("t1")
    )
    seconds = p.filter(F.col("rn") == 2).select(
        "user_id", F.col("ts_us").alias("t2")
    )
    gaps = firsts.join(seconds, "user_id").select(
        F.floor((F.col("t2") - F.col("t1")) / 86400000000).cast("long").alias(
            "days"
        )
    )
    h = gaps.groupBy("days").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # bounded day-histogram globals (≤ observation-span days — allowlisted)
    wcum = Window.orderBy("days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    c = h.select(
        "days",
        F.sum("n").over(wcum).cast("long").alias("cum"),
        F.sum("n").over(wall).cast("long").alias("total"),
    )
    counts = firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchasers")
    ).join(
        F.broadcast(
            seconds.agg(F.count(F.lit(1)).cast("long").alias("n_repeaters"))
        )
    )
    pcts = c.agg(
        F.min(
            F.when(100 * F.col("cum") >= 50 * F.col("total"), F.col("days"))
        )
        .cast("long")
        .alias("p50_days_to_second"),
        F.min(
            F.when(100 * F.col("cum") >= 90 * F.col("total"), F.col("days"))
        )
        .cast("long")
        .alias("p90_days_to_second"),
    )
    return (
        counts.join(F.broadcast(pcts))  # 1-row scalars
        .select(
            "n_purchasers",
            "n_repeaters",
            F.round(
                F.col("n_repeaters") * 1.0 / F.col("n_purchasers"), 6
            ).alias("repeat_rate"),
            "p50_days_to_second",
            "p90_days_to_second",
        )
    )


# --------------------------------------------------------------------------
# Q: event_entropy_rate — information-theoretic summary of user behavior:
# per-state conditional entropy H(next|cur) of the lag-1 transition
# matrix, and the chain's entropy rate H = Σ_s π(s)·H(next|s) weighted by
# the EMPIRICAL state occupancy (the predecessor-count distribution — the
# sample analogue of the stationary weights the Markov face iterates
# for). A behavior stream near 0 bits is deterministic botlike traffic;
# near log₂(k) is noise — the one-number behavioral-entropy gate.
# Determinism: transition and occupancy counts are exact BIGINTs; each
# p·log₂p term quantizes to 1e-12 before the per-state fold and the
# per-state entropies to 1e-9 before the occupancy-weighted fold (all
# integer sums). Scale: ONE user-keyed window exchange, then everything
# is type-vocabulary-sized.
# --------------------------------------------------------------------------
@query(
    "event_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
cells AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY cur, nxt
),
rows_ AS (SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur FROM cells GROUP BY cur),
hterms AS (
  SELECT c.cur,
         CAST(round(-(c.n * 1.0 / r.n_cur) * log2(c.n * 1.0 / r.n_cur)
                    * 1e12) AS BIGINT) AS tq
  FROM cells c JOIN rows_ r ON c.cur = r.cur
),
hstate AS (
  SELECT cur, CAST(round(sum(tq) / 1e3) AS BIGINT) AS h_q9
  FROM hterms GROUP BY cur
),
tot AS (SELECT CAST(sum(n_cur) AS BIGINT) AS nn FROM rows_)
SELECT h.cur AS state, r.n_cur AS n_transitions,
       round(h.h_q9 / 1e9, 6) AS h_next_bits,
       round(sum(h.h_q9 * r.n_cur) OVER () / (1e9 * (SELECT nn FROM tot)), 6)
         AS entropy_rate_bits
FROM hstate h JOIN rows_ r ON h.cur = r.cur
ORDER BY state
""",
)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    from f1_bigdata_pyspark_spark.utils import materialize

    # the ≤k²-cell transition table feeds five consumers (marginals,
    # entropy terms, totals, the rate fold): pin it once so each reads
    # the tiny table instead of replanning the corpus window exchange
    cells = materialize(
        pairs.groupBy("cur", "nxt").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    rows_ = cells.groupBy("cur").agg(F.sum("n").cast("long").alias("n_cur"))
    from f1_bigdata_pyspark_spark.operators.join_policy import (
        broadcast_if_small,
    )

    p = F.col("n") * 1.0 / F.col("n_cur")
    hterms = cells.join(broadcast_if_small(rows_), "cur").select(
        "cur",
        F.round(-p * F.log2(p) * 1e12).cast("long").alias("tq"),
    )
    hstate = hterms.groupBy("cur").agg(
        F.round(F.sum("tq") / 1e3).cast("long").alias("h_q9")
    )
    tot = rows_.agg(F.sum("n_cur").cast("long").alias("nn"))
    joined = hstate.join(rows_, "cur").join(F.broadcast(tot))  # 1-row scalar
    # the occupancy-weighted rate folds over the ≤k-state table as exact
    # integers; emit it per row (same scalar) for a flat readout
    rate_num = joined.agg(
        F.sum(F.col("h_q9") * F.col("n_cur")).cast("long").alias("rn")
    )
    return (
        joined.join(F.broadcast(rate_num))  # 1-row scalar
        .select(
            F.col("cur").alias("state"),
            F.col("n_cur").alias("n_transitions"),
            F.round(F.col("h_q9") / 1e9, 6).alias("h_next_bits"),
            F.round(
                F.col("rn") / (1e9 * F.col("nn")), 6
            ).alias("entropy_rate_bits"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# Q: user_burst_detection — rate-limit / bot screening: for every event,
# the count of events by the SAME user in the trailing 60-second window
# (RANGE frame over integer epoch-microseconds — keyed by user, so the
# window scales horizontally); a user "bursts" if any such count reaches
# the threshold. Readout per event type: users observed, bursting users, the max
# trailing-window count, and burst share. The RANGE frame is the
# idiomatic Spark form of "N requests in any rolling minute" — no
# self-join, no explode; one user-keyed exchange. The burst threshold is
# 2 here because the synthetic stream is sparse (~2 events/user/day —
# a production limiter sets hundreds); the threshold is the only knob.
# --------------------------------------------------------------------------
@query(
    "user_burst_detection",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
),
winned AS (
  SELECT user_id, event_type,
         count(*) OVER (
           PARTITION BY user_id ORDER BY t
           RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW
         ) AS w_cnt
  FROM ev
),
per_user AS (
  SELECT event_type, user_id, max(w_cnt) AS max_cnt
  FROM winned GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(*) FILTER (WHERE max_cnt >= 2) AS BIGINT) AS n_bursting,
       CAST(max(max_cnt) AS BIGINT) AS max_window_count,
       round(CAST(count(*) FILTER (WHERE max_cnt >= 2) AS DOUBLE)
             / count(*), 6) AS burst_share
FROM per_user
GROUP BY event_type
ORDER BY event_type
""",
)
def user_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-60_000_000, 0)
    )
    winned = ev.select(
        "user_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("w_cnt"),
    )
    per_user = winned.groupBy("event_type", "user_id").agg(
        F.max("w_cnt").alias("max_cnt")
    )
    bursting = F.count_if(F.col("max_cnt") >= 2)
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            bursting.cast("long").alias("n_bursting"),
            F.max("max_cnt").cast("long").alias("max_window_count"),
            F.round(
                bursting.cast("double") / F.count(F.lit(1)), 6
            ).alias("burst_share"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Q: statestore_key_audit — the streaming state-store reader surfaced as a
# batch-queryable face (round-6: the r5 ops surface was pytest-only). A
# deterministic fixture stream (events grouped by user_id, availableNow,
# 8 state partitions) is run to a checkpoint, then audited through
# format("statestore"): (a) the flattened state must equal the batch twin
# of the same aggregation, and (b) the keys-per-partition skew histogram
# must equal the PLANNED placement pmod(murmur3(key), 8) — the same
# hash-partitioning contract the shuffle uses, recomputed independently
# with F.hash. Both checks ride the hashed row as booleans; the scalar
# columns (distinct keys, state row total) are oracle-pinned against the
# events table. Scale: the statestore source plans one task per state
# partition — the audit parallelizes like the stream and never funnels
# state through the driver (streaming/state_audit.py).
# --------------------------------------------------------------------------
@query(
    "statestore_key_audit",
    oracle="""
SELECT CAST(8 AS BIGINT) AS n_partitions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events_in_state,
       true AS state_equals_batch,
       true AS skew_matches_planned
FROM events
""",
)
def statestore_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from f1_bigdata_pyspark_spark.streaming.state_audit import (
        read_aggregation_state,
        state_key_skew,
    )
    from f1_bigdata_pyspark_spark.utils import materialize, scratch_dir

    ev = load_table(spark, sf_dir, "events").select("user_id")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with scratch_dir("state_audit_") as root:
        src, ckpt = os.path.join(root, "src"), os.path.join(root, "ck")
        try:
            ev.write.parquet(src)
            # state partition count is captured from this conf at checkpoint
            # creation — pin it so the fixture (and the oracle's literal 8)
            # is session-independent, restore after
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            q = (
                spark.readStream.schema(ev.schema)
                .parquet(src)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            # the store's value schema carries the PHYSICAL accumulator name
            state = materialize(
                read_aggregation_state(spark, ckpt).select(
                    "user_id", F.col("count").alias("n"), "partition_id"
                )
            )
            batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            sv = state.select("user_id", "n")

            # r12: each multiset-equality check as ONE signed-union job
            # (utils.multisets_equal, guide §1.2) — was two exceptAll+count
            # jobs per check, each rescanning both sides. The scalar columns
            # fold into one aggregate over the state (was two more jobs),
            # and the three independent jobs run concurrently (guide §2.6).
            from f1_bigdata_pyspark_spark.utils import multisets_equal

            skew = state_key_skew(spark, ckpt)
            planned = (
                batch.select(
                    F.pmod(F.hash("user_id"), F.lit(8)).alias("partition_id")
                )
                .groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("n_keys"))
            )
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                state_eq_f = pool.submit(multisets_equal, sv, batch)
                skew_eq_f = pool.submit(multisets_equal, skew, planned)
                scalars_f = pool.submit(
                    lambda: state.agg(
                        F.countDistinct("user_id").alias("u"),
                        F.sum("n").alias("r"),
                    ).head()
                )
                state_eq = state_eq_f.result()
                skew_eq = skew_eq_f.result()
                scalars = scalars_f.result()
            n_users = scalars["u"]
            n_rows = scalars["r"]
            out = materialize(
                spark.createDataFrame(
                    [(8, n_users, int(n_rows), state_eq, skew_eq)],
                    "n_partitions long, n_users long, n_events_in_state long, "
                    "state_equals_batch boolean, skew_matches_planned boolean",
                )
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


# --------------------------------------------------------------------------
# Q: stream_session_window_parity — Structured Streaming's session_window
# pinned against the relational gaps-and-islands twin on the SAME data: a
# fixture stream of the events table (availableNow) sessionizes with a
# 30-minute gap into a memory sink; the batch twin computes sessions as
# lag-gap breaks + running session ids, with session end = last event +
# gap (the session_window contract, closed-open: an event landing exactly
# at gap distance starts a NEW session). The face returns the stream's
# session counts (oracle-pinned by DuckDB's gaps-and-islands) plus the
# set-equality boolean of (user, start, end, n) between engine paths —
# streaming merge-sessions state vs batch window arithmetic agreeing row
# for row. Scale: session_window state is per-user and merge-on-arrival
# (no unbounded buffering); the batch twin is one user-keyed exchange.
# --------------------------------------------------------------------------
@query(
    "stream_session_window_parity",
    oracle="""
WITH l AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events
),
f AS (
  SELECT user_id, ts,
         CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM l
),
s AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
),
g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS max_session_events,
       true AS stream_equals_batch
FROM g
""",
)
def stream_session_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pyspark.sql import Window

    from f1_bigdata_pyspark_spark.utils import materialize, scratch_dir

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sink = "sess_parity_" + uuid.uuid4().hex[:8]
    with scratch_dir("sess_parity_") as root:
        src = os.path.join(root, "src")
        try:
            ev.write.parquet(src)
            q = (
                spark.readStream.schema(ev.schema)
                .parquet(src)
                .withWatermark("ts", "0 seconds")
                .groupBy("user_id", F.session_window("ts", "30 minutes"))
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            stream_sessions = materialize(
                spark.table(sink).select(
                    "user_id",
                    F.col("session_window.start").alias("st"),
                    F.col("session_window.end").alias("en"),
                    "n",
                )
            )
            w = Window.partitionBy("user_id").orderBy("ts")
            brk = F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                    >= 1800
                ),
                1,
            ).otherwise(0)
            batch_sessions = (
                ev.withColumn("brk", brk)
                .withColumn(
                    "sid",
                    F.sum("brk").over(
                        Window.partitionBy("user_id")
                        .orderBy("ts")
                        .rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
                .groupBy("user_id", "sid")
                .agg(
                    F.min("ts").alias("st"),
                    (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("en"),
                    F.count(F.lit(1)).alias("n"),
                )
                .select("user_id", "st", "en", "n")
            )
            # r12: stream≡batch as ONE signed-union job (was two exceptAll
            # counts, each re-evaluating both session pipelines), run
            # concurrently with the summary aggregate (guide §1.2/§2.6).
            from concurrent.futures import ThreadPoolExecutor

            from f1_bigdata_pyspark_spark.utils import multisets_equal

            with ThreadPoolExecutor(max_workers=2) as pool:
                eq_f = pool.submit(multisets_equal, stream_sessions, batch_sessions)
                summary_f = pool.submit(
                    lambda: stream_sessions.agg(
                        F.count(F.lit(1)).cast("long").alias("n_sessions"),
                        F.countDistinct("user_id").cast("long").alias("n_users"),
                        F.sum("n").cast("long").alias("n_events"),
                        F.max("n").cast("long").alias("max_session_events"),
                    ).head()
                )
                eq = eq_f.result()
                summary = summary_f.result()
            out = materialize(
                spark.createDataFrame(
                    [
                        (
                            summary.n_sessions,
                            summary.n_users,
                            summary.n_events,
                            summary.max_session_events,
                            eq,
                        )
                    ],
                    "n_sessions long, n_users long, n_events long, "
                    "max_session_events long, stream_equals_batch boolean",
                )
            )
        finally:
            spark.catalog.dropTempView(sink) if sink in [
                t.name for t in spark.catalog.listTables()
            ] else None
    return out
