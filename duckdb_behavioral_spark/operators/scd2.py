"""Slowly-changing-dimension (type 2) state history compressed from an
event stream — the warehouse-temporal shape the suite's as-of/range
joins consume but didn't yet produce.

``user_state_scd2`` turns each user's event stream into change-only
validity intervals: one row per maximal run of equal states, carrying
``[valid_from, valid_to)`` and an ``is_current`` flag for the open
interval. This is how a 100 TB pipeline materializes dimension
history from CDC/event feeds (then serves point-in-time lookups via
the as-of join in operators/temporal_joins.py).

Reference scope note: the reference ships per-user ordered-scan
aggregates (/root/reference/src/lib.rs:28-36); this is the same
"ordered scan per entity" data model expressed as pure window
built-ins (SURVEY.md §2.5 posture).

Scale shape: ONE exchange on user_id, reused by both windows (the
change-detection lag and the interval-close lead run over the same
(user_id, ts) sort — Catalyst plans a single Exchange + sort). The
run-compression FILTER happens before the second window, so the lead
operates on segment-start rows only (|segments| <= |events|, typically
far smaller). No groupBy, no join, no state wider than a row.

Determinism: per-user timestamps are unique in the events model (see
queries.q18 docstring), so both windows are deterministic; outputs
are timestamps, strings, and a BIGINT segment index — no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.functions.timeutil import event_time

__all__ = [
    "scd2_history",
    "scd2_snapshot_at",
    "q_user_state_scd2",
    "q_scd2_point_in_time",
]


def scd2_history(
    events: DataFrame,
    entity: str = "user_id",
    state: str = "event_type",
    ts: str = "ts",
) -> DataFrame:
    """(entity, seg, state, valid_from, valid_to, is_current): change-
    compressed SCD2 intervals; ``valid_to`` is NULL on each entity's
    current (last) state run, making intervals half-open
    ``[valid_from, valid_to)``.
    """
    t = event_time(ts)
    w = Window.partitionBy(entity).orderBy(t.asc())
    # the previous state is its own column, so its lag is evaluated once
    marked = events.where(F.col(ts).isNotNull()).select(
        F.col(entity),
        F.col(state).alias("state"),
        t.alias("valid_from"),
        F.lag(F.col(state)).over(w).alias("__prev"),
    ).withColumn(
        "__chg", F.col("__prev").isNull() | (F.col("__prev") != F.col("state"))
    )
    seg_w = Window.partitionBy(entity).orderBy(F.col("valid_from").asc())
    starts = marked.where(F.col("__chg")).select(
        F.col(entity),
        F.row_number().over(seg_w).cast("long").alias("seg"),
        "state",
        "valid_from",
        F.lead("valid_from").over(seg_w).alias("valid_to"),
    )
    return starts.withColumn("is_current", F.col("valid_to").isNull()).orderBy(
        entity, "seg"
    )


def q_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_events

    return scd2_history(load_events(spark, sf_dir))


USER_STATE_SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         (lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
             <> event_type) AS chg
  FROM events WHERE ts IS NOT NULL
), starts AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from)
              AS BIGINT) AS seg,
         state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM marked WHERE chg
)
SELECT user_id, seg, state, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM starts ORDER BY user_id, seg
"""


# --- point-in-time lookup ----------------------------------------------------

AS_OF = "2024-01-16 00:00:00"


def scd2_snapshot_at(history: DataFrame, at: str = AS_OF) -> DataFrame:
    """Point-in-time reconstruction from SCD2 history — the time-travel
    read the history exists to serve: the row whose half-open interval
    ``[valid_from, valid_to)`` contains ``at`` is each entity's state
    as of that instant. Map-side filter over the history (one
    partition-pruned scan when the history is stored partitioned by
    validity month); entities whose first interval opens after ``at``
    are correctly absent.
    """
    t = F.lit(at).cast("timestamp")
    return (
        history.where(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .select("user_id", "state", "valid_from")
        .orderBy("user_id")
    )


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_behavioral_spark.sources import load_events

    return scd2_snapshot_at(scd2_history(load_events(spark, sf_dir)))


# oracle: derive the same answer WITHOUT the history — each user's
# last event at or before the instant (interval semantics [from, to)
# make an event exactly AT the instant the current state). valid_from
# is the start of the run of equal states containing that event, so
# it comes from the change-compressed walk, which the window re-derives.
SCD2_POINT_IN_TIME_SQL = f"""
WITH marked AS (
  SELECT user_id, event_type AS state, ts,
         (lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
             <> event_type) AS chg
  FROM events WHERE ts IS NOT NULL AND ts <= TIMESTAMP '{AS_OF}'
), runs AS (
  SELECT user_id, state, ts,
         CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS run_id
  FROM marked
), latest AS (
  SELECT user_id, arg_max(run_id, ts) AS run_id FROM runs GROUP BY user_id
)
SELECT r.user_id, arg_max(r.state, r.ts) AS state,
       min(r.ts) AS valid_from
FROM runs r JOIN latest l ON r.user_id = l.user_id AND r.run_id = l.run_id
GROUP BY r.user_id
ORDER BY r.user_id
"""
