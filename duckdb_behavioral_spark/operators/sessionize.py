"""sessionize — gap-based session ids, pure built-in window expressions.

Reference semantics (reference: src/sessionize.rs:263-368): scanning a
partition in timestamp order, a new session starts when the gap between
consecutive events is *strictly greater* than the threshold
(src/sessionize.rs:310-312); the session id is the number of boundaries
before the row plus one. Rows with NULL timestamps get a NULL session
id but do not break neighboring sessions (src/sessionize.rs:290-298).

The reference evaluates this through DuckDB's segment-tree window
machinery; in Spark it reduces to one ``lag`` + a running ``sum`` over
``PARTITION BY keys ORDER BY ts`` — no UDF, fully whole-stage-codegen'd,
shuffles once on the partition keys. NULL timestamps sort first in
Spark ascending order, so non-null rows only ever see non-null
predecessors and the running sum is unaffected.

The expression is one SQL string, written by :func:`session_id_sql`
for both surfaces: :func:`sessionize_col` wraps it with ``F.expr`` (one
py4j call instead of ~30 Column nodes), and ``behavioral_sql`` expands
each ``sessionize(ts, INTERVAL g) OVER (spec)`` call in place with it,
over the statement's own ``spec``. The boundary test
``coalesce(t - lag(t) > gap, false)`` reads the ``lag`` once: Catalyst
does not merge two equal window functions, so a second reference
(``lag(t) IS NOT NULL AND …``) would compute it twice per row
(plan-gated in tests/test_plans.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from duckdb_behavioral_spark.intervals import to_micros
from duckdb_behavioral_spark.functions.timeutil import event_time
from duckdb_behavioral_spark import sqltext


def session_id_sql(ts: str, gap_us: int, over: str) -> str:
    """Session id of each row as SQL text: ``ts`` is the event-time
    expression, ``gap_us`` the gap in µs and ``over`` the window spec
    (``[PARTITION BY …] ORDER BY …``) both windows run over."""
    tsu = sqltext.event_micros(ts)
    return (
        f"CASE WHEN {ts} IS NOT NULL THEN sum(CASE WHEN coalesce("
        f"{tsu} - lag({tsu}) OVER ({over}) > {gap_us}, false) THEN 1 ELSE 0 END) "
        f"OVER ({over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 END"
    )


def sessionize_col(ts, gap, partition_by: Sequence) -> Column:
    """Session-id Column for ``withColumn`` composition. ``ts`` and the
    partition keys are column names (one SQL expression) or Columns."""
    gap_us = to_micros(gap)
    # ORDER BY the raw column attribute, cast only inside unix_micros:
    # a cast in the window order key is extracted into per-window _w
    # projections, and the two windows then sort on DIFFERENT attribute
    # copies — the planner re-sorts between them instead of sharing one
    # sort (plan-asserted in tests/test_plans.py). NTZ and TIMESTAMP
    # order identically, so sorting the uncast column is equivalent.
    if isinstance(ts, str) and all(isinstance(k, str) for k in partition_by):
        t = sqltext.name(ts)
        over = f"{sqltext.partition_by(partition_by)}ORDER BY {t}"
        return F.expr(session_id_sql(t, gap_us, over))
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    w = Window.partitionBy(*partition_by).orderBy(ts_col.asc())
    tsu = F.unix_micros(event_time(ts_col))
    cut = F.coalesce(tsu - F.lag(tsu).over(w) > F.lit(gap_us), F.lit(False))
    running = F.sum(cut.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return F.when(ts_col.isNotNull(), running + 1)


def sessionize(
    df: DataFrame,
    ts: str,
    gap,
    partition_by: Sequence[str],
    out: str = "session_id",
) -> DataFrame:
    """Append a session-id column computed per partition key."""
    return df.withColumns({out: sessionize_col(ts, gap, list(partition_by))})
