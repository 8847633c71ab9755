"""Hard-capped sessionization — inactivity-gap sessions additionally
split so no session spans more than ``CAP_MIN`` minutes from its first
event (the web-analytics "midnight split" generalized: bots and
kept-alive tabs otherwise produce week-long sessions that poison
duration stats).

Semantics: first segment by the reference ``sessionize`` gap rule
(30-min inactivity, operators/sessionize.py — reference parity per
src/sessionize.rs), then subdivide each gap-session into fixed
``CAP_MIN``-minute epochs anchored at the session's FIRST event:
sub = (ts - session_start) div cap. Anchoring at the session start
(not at each sub-session's first event) is what keeps the operator
window-expressible — both engines compute it with two plain windows
(min-over-session, then integer div), no sequential reset state, no
kernel. The declared query reports the before/after session-count
and max-duration evidence so the cap's effect is oracle-audited.

Scale shape: two windows partitioned by user (high-cardinality), one
grouped aggregate per (user, session, sub), one tiny global readout.
Durations in integer seconds via unix_seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["session_hard_cap_report", "q_session_hard_cap", "SESSION_CAP_SQL"]

GAP_MIN = 30
CAP_MIN = 20


def session_hard_cap_report(
    events: DataFrame, gap_min: int = GAP_MIN, cap_min: int = CAP_MIN
) -> DataFrame:
    """One row: (n_sessions_gap, n_sessions_capped, n_sessions_split,
    max_dur_gap_s, max_dur_capped_s) — the inactivity-gap session
    count vs the hard-capped count, how many gap-sessions the cap
    split, and the max session duration before/after."""
    gap_s = gap_min * 60
    cap_s = cap_min * 60
    base = (
        events.where(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_seconds(F.col("ts")).alias("t"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    sid = (
        base.withColumn(
            "__new",
            # t is never NULL here, so a NULL difference means the first
            # event; one lag reference, so the window is evaluated once
            F.when(F.coalesce(F.col("t") - F.lag("t").over(w) > gap_s, F.lit(True)), 1)
            .otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("__new").over(
                Window.partitionBy("user_id")
                .orderBy(F.col("t").asc(), F.col("event_id").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    ws = Window.partitionBy("user_id", "sid")
    sub = sid.withColumn(
        "__sub",
        F.floor((F.col("t") - F.min("t").over(ws)) / F.lit(cap_s)).cast("long"),
    )
    per_gap = sub.groupBy("user_id", "sid").agg(
        (F.max("t") - F.min("t")).alias("dur"),
        F.count_distinct("__sub").alias("n_subs"),
    )
    per_cap = sub.groupBy("user_id", "sid", "__sub").agg(
        (F.max("t") - F.min("t")).alias("dur")
    )
    g = per_gap.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions_gap"),
        F.sum(F.when(F.col("n_subs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions_split"),
        F.max("dur").cast("long").alias("max_dur_gap_s"),
    )
    c = per_cap.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions_capped"),
        F.max("dur").cast("long").alias("max_dur_capped_s"),
    )
    return g.crossJoin(c).select(
        "n_sessions_gap",
        "n_sessions_capped",
        "n_sessions_split",
        "max_dur_gap_s",
        "max_dur_capped_s",
    )


def q_session_hard_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_events

    return session_hard_cap_report(load_events(spark, sf_dir))


SESSION_CAP_SQL = f"""
WITH base AS (
  -- epoch_us // 1e6 floors like Spark's unix_seconds; epoch()::BIGINT
  -- would ROUND the fractional seconds and shift gap boundaries
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t
  FROM events WHERE ts IS NOT NULL
), marked AS (
  SELECT user_id, event_id, t,
         CASE WHEN lag(t) OVER w IS NULL
                OR t - lag(t) OVER w > {GAP_MIN * 60} THEN 1 ELSE 0 END AS brk
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), sids AS (
  SELECT user_id, t,
         sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), subs AS (
  SELECT user_id, sid, t,
         (t - min(t) OVER (PARTITION BY user_id, sid)) // {CAP_MIN * 60}
           AS sub
  FROM sids
), per_gap AS (
  SELECT user_id, sid, max(t) - min(t) AS dur,
         count(DISTINCT sub) AS n_subs
  FROM subs GROUP BY user_id, sid
), per_cap AS (
  SELECT user_id, sid, sub, max(t) - min(t) AS dur
  FROM subs GROUP BY user_id, sid, sub
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_gap) AS n_sessions_gap,
       (SELECT CAST(count(*) AS BIGINT) FROM per_cap) AS n_sessions_capped,
       (SELECT CAST(sum(CASE WHEN n_subs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM per_gap) AS n_sessions_split,
       (SELECT CAST(max(dur) AS BIGINT) FROM per_gap) AS max_dur_gap_s,
       (SELECT CAST(max(dur) AS BIGINT) FROM per_cap) AS max_dur_capped_s
"""
