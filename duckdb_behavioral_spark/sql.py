"""SQL surface: register the behavioral functions for ``spark.sql``.

The reference registers its seven functions as SQL aggregates in the
host engine (reference: src/ffi/mod.rs:64-84). PySpark cannot register
true Python UDAFs, so the SQL surface follows Spark's idiom for
custom per-group logic: the grouping stays in SQL
(``collect_list(struct(...))``) and the registered scalar functions
evaluate the per-group kernel over the collected arrays —
Arrow-batched, one row per group.

Example (after ``register(spark)``), equivalent to oracle Q3 and to
what ``sql_surface.behavioral_sql`` makes of
``window_funnel(INTERVAL '1 hour', ts, …)`` (it inlines the
``collect_list`` in both ``transform`` calls; Catalyst computes it
once):

    WITH g AS (
      SELECT user_id,
             collect_list(CASE WHEN ts IS NOT NULL THEN
               struct(unix_micros(CAST(ts AS TIMESTAMP)) AS t,
                      CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                         | CASE WHEN event_type = 'click' THEN 2 ELSE 0 END
                         | CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END
                           AS BIGINT) AS m) END) AS ev
      FROM events GROUP BY user_id)
    SELECT user_id,
           wf_step(3600000000, '', transform(ev, x -> x.t),
                   transform(ev, x -> x.m), 3) AS step
    FROM g

Collect ts+mask as ONE struct array (then split with ``transform``) so
the positional pairing is guaranteed; the UDFs sort each row's events
by time themselves, so no ``sort_array`` is needed. The cast reads a
TIMESTAMP_NTZ column as TIMESTAMP (``sqltext.event_micros``), and
``collect_list`` drops the NULLs of NULL-ts rows.

A DataFrame-first user should prefer the operators in
``duckdb_behavioral_spark.operators`` — they pick JVM fast paths where
possible; the SQL UDFs always run the Python kernels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_behavioral_spark.kernels import funnel as KF
from duckdb_behavioral_spark.kernels import next_node as KN
from duckdb_behavioral_spark.kernels import pattern as KP


def _sorted_pair(ts, mask):
    ev = sorted(zip(ts, mask))
    return [t for t, _ in ev], [m for _, m in ev]


def _patterns(execute, pattern, ts, mask, *extra):
    """``execute(steps, ts, mask, *extra)`` per row: each row's pattern
    parsed, its events sorted by time and the events matching no
    condition (mask 0) dropped, as the reference does."""
    out = []
    for p, t, m in zip(pattern, ts, mask):
        tt, mm = _sorted_pair(t, m)
        nz = [(a, b) for a, b in zip(tt, mm) if b != 0]
        out.append(execute(KP.parse_pattern(p), [a for a, _ in nz],
                           [b for _, b in nz], *extra))
    return out


def register(spark: SparkSession) -> None:
    """Register the behavioral SQL functions on this session, unless
    they are registered already: ``behavioral_sql`` calls this before
    every statement, and re-registering the five pandas UDFs made a
    second statement send 95 py4j commands instead of 6 (sf0.001).
    ``seq_next_node`` is registered last, so its presence means all
    five are."""
    if spark.catalog.functionExists("seq_next_node"):
        return

    @F.pandas_udf(T.IntegerType())
    def wf_step(window_us: pd.Series, mode: pd.Series, ts: pd.Series,
                mask: pd.Series, num_conds: pd.Series) -> pd.Series:
        out = []
        for w, md, t, m, k in zip(window_us, mode, ts, mask, num_conds):
            tt, mm = _sorted_pair(t, m)
            out.append(KF.funnel_max_step(tt, mm, int(w), int(k), KF.parse_modes(md)))
        return pd.Series(out, dtype="int32")

    @F.pandas_udf(T.BooleanType())
    def seq_match(pattern: pd.Series, ts: pd.Series, mask: pd.Series) -> pd.Series:
        return pd.Series([bool(r) for r in _patterns(
            KP.execute_pattern, pattern, ts, mask, False)])

    @F.pandas_udf(T.LongType())
    def seq_count(pattern: pd.Series, ts: pd.Series, mask: pd.Series) -> pd.Series:
        return pd.Series(_patterns(KP.execute_pattern, pattern, ts, mask, True),
                         dtype="int64")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def seq_match_events(pattern: pd.Series, ts: pd.Series, mask: pd.Series) -> pd.Series:
        return pd.Series([[] if r is None else [int(x) for x in r] for r in _patterns(
            KP.execute_pattern_events, pattern, ts, mask)])

    @F.pandas_udf(T.StringType())
    def seq_next_node(direction: pd.Series, base: pd.Series, ts: pd.Series,
                      values: pd.Series, base_cond: pd.Series, mask: pd.Series,
                      num_steps: pd.Series) -> pd.Series:
        out = []
        for d, b, t, v, bc, m, k in zip(direction, base, ts, values, base_cond, mask, num_steps):
            order = sorted(range(len(t)), key=lambda i: t[i])
            out.append(KN.next_node(
                [v[i] for i in order], [bool(bc[i]) for i in order],
                [int(m[i]) for i in order],
                KN.parse_direction(d), KN.parse_base(b), int(k)))
        return pd.Series(out, dtype=object)

    spark.udf.register("wf_step", wf_step)
    spark.udf.register("seq_match", seq_match)
    spark.udf.register("seq_count", seq_count)
    spark.udf.register("seq_match_events", seq_match_events)
    spark.udf.register("seq_next_node", seq_next_node)
