"""sequence_next_node — value of the event adjacent to a matched chain.

Reference semantics (reference: src/sequence_next_node.rs:49-419):
sequential (non-NFA) chain match event1→event2→…→eventN anchored at a
base-condition event; forward returns the value of the event
immediately *after* the last matched event, backward the value
immediately *before* the earliest matched event. All events are kept —
any event can be the returned node (src/sequence_next_node.rs:186-192).
Rows with NULL timestamps are skipped (src/ffi/sequence_next_node.rs:132-135):
they are never a chain event or an adjacent candidate, but a group
whose rows all have NULL timestamps still gets one row, with a NULL
result, as in the SQL surface and the rest of the sequence family.

Runs the exact kernel port (kernels/next_node.py) on the grouped
mapInPandas engine; the value column rides along as the only string
payload. The payload projection is SQL text
(``duckdb_behavioral_spark.sqltext``).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from duckdb_behavioral_spark.kernels.next_node import next_node, parse_base, parse_direction
from duckdb_behavioral_spark import sqltext
from duckdb_behavioral_spark.operators.grouped import condition_bitmask, grouped_scan


def sequence_next_node(
    df: DataFrame,
    direction: str,
    base: str,
    ts: str,
    value,
    base_cond,
    conds: Sequence,
    group_by: Sequence[str],
    out: str = "next_node",
) -> DataFrame:
    direction = parse_direction(direction)
    base = parse_base(base)
    k = len(conds)
    if not 1 <= k <= 32:
        raise ValueError(f"sequence_next_node takes 1..32 event conditions, got {k}")
    df, (t, v, bc, *conds) = sqltext.inputs(
        df, [sqltext.column(ts), value, base_cond, *conds])

    def kernel(arrs):
        # NULL-ts rows ride along only to keep their group; the scan
        # sorts them first, so a group has some iff its first row does
        t = arrs["t"]
        if len(t) and pd.isna(t[0]):
            live = ~pd.isna(t)
            arrs = {name: a[live] for name, a in arrs.items()}
        # Arrow→pandas nulls arrive as None (object cols) or NaN; map both to None.
        vals = [
            None if v is None or (isinstance(v, float) and v != v) else str(v)
            for v in arrs["v"]
        ]
        return (next_node(vals, arrs["bc"], arrs["m"], direction, base, k),)

    return grouped_scan(
        df,
        list(group_by),
        {
            "t": sqltext.event_micros(t),
            "v": f"CAST({v} AS STRING)",
            "bc": f"coalesce({bc}, false)",
            "m": condition_bitmask(conds),
        },
        "t",
        kernel,
        [T.StructField(out, T.StringType(), True)],
    )
